"""Aggregations over query-matched documents (SURVEY.md §2.4).

The reference attaches aggregation collectors to the query phase
(sv/search/aggregations/AggregationPhase.java wired at
sv/search/query/QueryPhase.java:97-158; registrations
sv/search/SearchModule.java:399-833) and reduces per-shard partials on the
coordinator. In Spark the same shape falls out of Catalyst automatically:
filter (the query's doc set) → groupBy (bucket agg) → partial+final
aggregation — so every operator here is a short DataFrame pipeline over
`matched_docs(ex, q)`, with map-side combine and exchange handled by the
planner.

Notable mappings:
  terms            groupBy + count/metric + ORDER BY LIMIT (exact — the
                   reference's shard_size over-fetch error bounds vanish
                   because the aggregation is global)
  date_histogram   date_trunc bucketing (calendar intervals)
  histogram        floor(value/interval)*interval
  range            CASE WHEN bucket expression
  stats/extended   avg/sum/min/max/stddev/variance built-ins
  percentiles      exact `percentile` (the reference's t-digest is an
                   approximation of exactly this; approx_percentile is the
                   100 TB path — same plan shape)
  cardinality      exact count(DISTINCT) for the oracle gate;
                   approx_count_distinct (HLL++, same family as the
                   reference's HyperLogLogPlusPlus, default precision 14 —
                   sv/.../cardinality/HyperLogLogPlusPlus.java:70) at scale
  top_hits /       row_number() over (partition by bucket order by score
  field collapse   desc, docid) — sv/search/collapse/CollapseBuilder.java
  significant      JLH score from foreground/background term counts —
  _terms           two groupBys + a join
  pipeline aggs    window functions over the bucket table (cumulative_sum,
                   derivative = lag) — sv/search/SearchModule.java:711-833
  composite        keyset pagination on the bucket tuple
  matrix_stats     corr/covar_pop built-ins
                   (modules/aggs-matrix-stats/.../RunningStats.java)
  rescore          re-rank only the top-`window` rows with a second score —
                   sv/search/rescore/QueryRescorer.java
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "matched_docs",
    "terms_agg",
    "date_histogram",
    "histogram",
    "range_agg",
    "stats_agg",
    "percentiles_agg",
    "cardinality_agg",
    "top_hits",
    "significant_terms",
    "significant_text",
    "date_histogram_pipeline",
    "composite_agg",
    "collapse",
    "rescore",
    "matrix_stats",
    "moving_window_aggs",
    "moving_avg_model",
    "bucket_script_chain",
    "rare_terms",
    "multi_terms",
    "adjacency_matrix",
    "sampler_terms",
    "auto_date_histogram",
    "date_range_agg",
    "variable_width_histogram",
    "scripted_metric",
    "ip_range_agg",
]


def matched_docs(ex, q) -> DataFrame:
    """The query-phase doc set: docs rows matching q (unscored filter)."""
    hits = ex._plan(q, scored=False).select("docid")
    return ex.ix.docs.join(hits, "docid")


def scored_docs(ex, q) -> DataFrame:
    """docs rows + BM25 score for q (the scored query phase)."""
    hits = ex._plan(q, scored=True).select("docid", "score")
    return ex.ix.docs.join(hits, "docid")


def terms_agg(df: DataFrame, field: str, size: int = 10) -> DataFrame:
    """Top-N buckets by doc count, count desc then key asc (the reference's
    default terms order)."""
    return (df.groupBy(F.col(field).alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(size))


def date_histogram(df: DataFrame, field: str,
                   interval: str = "day",
                   time_zone: str | None = None,
                   min_doc_count: int = 1) -> DataFrame:
    """``time_zone`` (DateHistogramAggregationBuilder / Rounding with a
    timeZone): buckets are aligned to LOCAL day/hour boundaries in the
    given zone; the bucket key stays the UTC instant of the zoned
    bucket start — shift into the zone, truncate on the local wall
    clock, shift back. ``min_doc_count=0`` fills empty buckets between
    the observed extent with doc_count 0."""
    ts = F.col(field)
    if time_zone:
        key = F.to_utc_timestamp(
            F.date_trunc(interval, F.from_utc_timestamp(ts, time_zone)),
            time_zone)
    else:
        key = F.date_trunc(interval, ts)
    grouped = (df.groupBy(key.alias("key"))
               .agg(F.count("*").cast("long").alias("doc_count")))
    if min_doc_count == 0:
        # min_doc_count=0 (the reference's empty-bucket fill): emit a
        # zero bucket for every interval step between the min and max
        # OBSERVED keys. The spine generates from the 1-row bounds
        # aggregate — bucket count is bounded by the time range, never
        # the row count, and the aggregated frame it joins is equally
        # small, so this adds no corpus-scale shuffle.
        spine = (grouped.agg(F.min("key").alias("mn"),
                             F.max("key").alias("mx"))
                 .select(F.explode(F.expr(
                     f"sequence(mn, mx, interval 1 {interval})"))
                     .alias("key")))
        grouped = (spine.join(grouped, "key", "left")
                   .fillna(0, subset=["doc_count"]))
    return grouped.orderBy("key")


def histogram(df: DataFrame, field: str, interval: float) -> DataFrame:
    key = (F.floor(F.col(field) / interval) * interval).cast("double")
    return (df.groupBy(key.alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"))
            .orderBy("key"))


def range_agg(df: DataFrame, field: str,
              ranges: list[tuple[float | None, float | None]]) -> DataFrame:
    """Overlap-capable ranges, [from, to): one sum(case) per range, then
    unpivoted to (key, doc_count) rows ordered by range position."""
    rows = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(field) >= lo)
        if hi is not None:
            cond = cond & (F.col(field) < hi)
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        rows.append((i, key, F.sum(cond.cast("long")).alias(f"r{i}")))
    agg = df.agg(*[r[2] for r in rows])
    parts = [
        F.struct(F.lit(i).alias("ord"), F.lit(key).alias("key"),
                 F.col(f"r{i}").alias("doc_count"))
        for i, key, _ in rows]
    return (agg.select(F.explode(F.array(*parts)).alias("b"))
            .select(F.col("b.key").alias("key"),
                    F.col("b.doc_count").cast("long").alias("doc_count"),
                    F.col("b.ord").alias("_o"))
            .orderBy("_o").drop("_o"))


def stats_agg(df: DataFrame, field: str, extended: bool = False) -> DataFrame:
    c = F.col(field).cast("double")
    aggs = [F.count(c).cast("long").alias("count"),
            F.min(c).alias("min"), F.max(c).alias("max"),
            F.round(F.avg(c), 6).alias("avg"),
            F.round(F.sum(c), 6).alias("sum")]
    if extended:
        aggs += [F.round(F.var_pop(c), 6).alias("variance"),
                 F.round(F.stddev_pop(c), 6).alias("std_deviation")]
    return df.agg(*aggs)


def percentiles_agg(df: DataFrame, field: str,
                    pcts: list[float] = (0.25, 0.5, 0.75, 0.95),
                    approx: bool = False) -> DataFrame:
    c = F.col(field).cast("double")
    if approx:
        aggs = [F.percentile_approx(c, p).alias(f"p{int(p * 100)}")
                for p in pcts]
    else:
        aggs = [F.round(F.percentile(c, F.lit(p)), 6)
                .alias(f"p{int(p * 100)}") for p in pcts]
    return df.agg(*aggs)


def cardinality_agg(df: DataFrame, field: str,
                    approx: bool = False) -> DataFrame:
    c = F.col(field)
    agg = (F.approx_count_distinct(c) if approx
           else F.countDistinct(c)).cast("long").alias("cardinality")
    return df.agg(agg)


def top_hits(scored: DataFrame, bucket_field: str, n: int = 2) -> DataFrame:
    """Per-bucket best hits by (score desc, docid asc)."""
    w = Window.partitionBy(bucket_field).orderBy(
        F.col("score").desc(), F.col("docid").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n)
            .select(F.col(bucket_field).alias("key"), "rank", "docid",
                    F.col("score"))
            .orderBy("key", "rank"))


def significance_score(fg: Column, fg_n: float, bg: Column, bg_n: float,
                       heuristic: str = "jlh",
                       include_negatives: bool = False) -> Column:
    """Significance heuristics over the 2×2 contingency table
    (sv/search/aggregations/bucket/terms/heuristic/ — JLHScore,
    ChiSquare, MutualInformation, GND, PercentageScore; the NXY counts
    follow NXYSignificanceHeuristic.computeNxys with
    background_is_superset=true, the REST default):

      N11=fg  N01=fg_n−fg  N10=bg−fg  N00=bg_n−bg−(fg_n−fg)
      N1_=bg  N0_=bg_n−bg  N_1=fg_n   N_0=bg_n−fg_n  N=bg_n

    - ``jlh``: (fg%−bg%)·(fg%/bg%), 0 when fg% ≤ bg%
    - ``chi_square``: N·(N11·N00−N01·N10)² / (N_1·N1_·N0_·N_0);
      −∞ when the term is rarer in the subset (include_negatives=false)
    - ``mutual_information``: Σ Nxy/N·log₂(N·Nxy/(Nx_·N_y)) with
      0-cell terms dropped at the reference's 1e-7 threshold; −∞ on
      negatives as above
    - ``gnd``: exp(−(max(ln fx, ln fy)−ln fxy)/(ln N−min(ln fx,
      ln fy))), 0 on no co-occurrence, 1 on perfect co-occurrence
      (normalized Google distance, GND.java:97-114)
    - ``percentage``: fg/bg
    """
    f = fg.cast("double")
    b = bg.cast("double")
    n11, n01 = f, F.lit(float(fg_n)) - f
    n10 = b - f
    n00 = F.lit(float(bg_n)) - b - (F.lit(float(fg_n)) - f)
    n1_, n0_ = b, F.lit(float(bg_n)) - b
    n_1, n_0 = F.lit(float(fg_n)), F.lit(float(bg_n - fg_n))
    n = F.lit(float(bg_n))
    neg = (n11 / n_1) < (n10 / n_0)
    if heuristic == "jlh":
        # JLHScore.getScore: 0 unless the term is commoner in the subset
        fgp, bgp = f / float(fg_n), b / float(bg_n)
        return F.when(fgp <= bgp, F.lit(0.0)) \
            .otherwise((fgp - bgp) * (fgp / bgp))
    if heuristic == "chi_square":
        s = (n * F.pow(n11 * n00 - n01 * n10, F.lit(2.0))
             / (n_1 * n1_ * n0_ * n_0))
        return s if include_negatives else \
            F.when(neg, F.lit(float("-inf"))).otherwise(s)
    if heuristic == "mutual_information":
        def mi_term(nxy, nx_, n_y):
            num = F.abs(n * nxy)
            fac = F.abs(nxy / n)
            return F.when((num < 1e-7) & (fac < 1e-7), F.lit(0.0)) \
                .otherwise(fac * F.log(num / F.abs(nx_ * n_y)))
        s = (mi_term(n00, n0_, n_0) + mi_term(n01, n0_, n_1)
             + mi_term(n10, n1_, n_0) + mi_term(n11, n1_, n_1)) \
            / F.lit(0.6931471805599453)
        s = F.when(F.isnan(s), F.lit(float("-inf"))).otherwise(s)
        return s if include_negatives else \
            F.when(neg, F.lit(float("-inf"))).otherwise(s)
    if heuristic == "gnd":
        fx, fy, fxy = n1_, n_1, n11
        raw = ((F.greatest(F.log(fx), F.log(fy)) - F.log(fxy))
               / (F.log(n) - F.least(F.log(fx), F.log(fy))))
        return (F.when(fxy == 0.0, F.lit(0.0))
                .when((fx == fy) & (fx == fxy), F.lit(1.0))
                .otherwise(F.exp(-raw)))
    if heuristic == "percentage":
        return F.when(b == 0.0, F.lit(0.0)).otherwise(f / b)
    raise ValueError(f"unknown significance heuristic: {heuristic!r}")


def significant_terms(ex, q, size: int = 5,
                      min_doc_count: int = 3,
                      heuristic: str = "jlh",
                      include_negatives: bool = False,
                      background_filter=None) -> DataFrame:
    """Significance-scored terms: foreground = docs matching q,
    background = all docs (sv/search/aggregations/bucket/terms/
    SignificantTermsAggregationBuilder + the heuristic package — see
    ``significance_score``). The score column keeps its historical
    ``jlh`` name for the default heuristic and is ``score``
    otherwise.

    ``background_filter``: a Query scoping the background set (the
    builder's backgroundFilter — "uncommonly common" within a narrower
    context). With a filter the per-term background df comes from a
    postings⋈filtered-docs aggregation instead of the precomputed
    stats table; background_is_superset still holds because the
    foreground is intersected with the background set, exactly the
    reference's requirement for the NXY table."""
    ix = ex.ix
    fg_docs = ex._plan(q, scored=False).select("docid")
    if background_filter is not None:
        bg_docs = (ex._plan(background_filter, scored=False)
                   .select("docid"))
        fg_docs = fg_docs.join(bg_docs, "docid", "left_semi")
        bg_n = bg_docs.count()
        bg = (ix.postings.join(bg_docs, "docid")
              .groupBy("term").agg(F.count("*").cast("long").alias("bg")))
    else:
        bg_n = ix.n_docs
        bg = ix.stats.select("term", F.col("df").alias("bg"))
    fg_n = fg_docs.count()
    fg = (ix.postings.join(fg_docs, "docid")
          .groupBy("term").agg(F.count("*").cast("long").alias("fg")))
    j = fg.join(bg, "term")
    score = significance_score(F.col("fg"), fg_n, F.col("bg"), bg_n,
                               heuristic, include_negatives)
    name = "jlh" if heuristic == "jlh" else "score"
    return (j.where(F.col("fg") >= min_doc_count)
            .select("term", "fg", "bg", F.round(score, 6).alias(name))
            .where(~F.col(name).eqNullSafe(float("-inf")))
            .orderBy(F.col(name).desc(), F.col("term").asc())
            .limit(size))


def significant_text(ex, pages: DataFrame, q, size: int = 5,
                     min_doc_count: int = 3, source_field: str = "text",
                     analyzer: str | None = None,
                     filter_duplicate_text: bool = False,
                     sample_size: int | None = None) -> DataFrame:
    """significant_text agg: JLH-scored significant terms computed by
    RE-ANALYZING the _source text of the foreground docs, not from
    docvalues/postings (sv/search/aggregations/bucket/terms/
    SignificantTextAggregationBuilder.java,
    SignificantTextAggregatorFactory.java — the agg "re-analyzes text on
    the fly", supports an analyzer override, ``filter_duplicate_text``,
    and a sampled foreground via sampler/shard_size).

    - ``analyzer``: overrides the index analyzer for re-analysis.
    - ``sample_size``: foreground = top-N scored hits (the reference's
      recommended sampler composition); None = all matching docs.
    - ``filter_duplicate_text``: drops exact-duplicate foreground
      sources (first occurrence by docid wins). The reference's
      DeDuplicatingTokenFilter also prunes repeated paragraph-level
      token sequences WITHIN near-dup docs; exact-source dedup is the
      subset reproducible without its stateful trigram spotter and is
      documented as such.

    Plan shape: foreground docids (small: a query's match set, or the
    top-N sample) broadcast against the corpus, re-analysis as an
    Arrow-batched pandas UDF over only those rows, two groupBys + one
    join against the per-term stats table — no full-corpus re-analysis
    and no shuffle of the corpus itself.

    Background is the whole index (df from the stats table), matching
    the reference's default background_filter=None.
    """
    ix = ex.ix
    an = analyzer or ix.analyzer
    if sample_size is not None:
        fg_docs = (ex.search(q, k=sample_size, fetch=False)
                   .select("docid"))
    else:
        fg_docs = ex._plan(q, scored=False).select("docid")
    src = (ix.docs.select("docid", "url")
           .join(F.broadcast(fg_docs), "docid")
           .join(pages.select("url", F.col(source_field).alias("_src")),
                 "url"))
    if filter_duplicate_text:
        w = Window.partitionBy(F.sha2(F.col("_src"), 256)).orderBy("docid")
        src = (src.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).drop("_rn"))
    from sparksearch.analysis import analyze

    @F.pandas_udf("array<string>")
    def _distinct_terms(s: pd.Series) -> pd.Series:
        return s.map(lambda t: sorted({tok[0] for tok in
                                       analyze(t or "", an)}))

    # one lazy plan: the foreground count rides along as a broadcast
    # 1-row aggregate instead of a driver-side count() job
    fgn = src.agg(F.count("*").cast("double").alias("_fgn"))
    fg = (src.select(F.explode(_distinct_terms("_src")).alias("term"))
          .groupBy("term").agg(F.count("*").cast("long").alias("fg")))
    bg = ix.stats.select("term", F.col("df").alias("bg"))
    j = fg.join(bg, "term").crossJoin(F.broadcast(fgn))
    fgp = F.col("fg").cast("double") / F.greatest(F.col("_fgn"), F.lit(1.0))
    bgp = F.col("bg").cast("double") / float(ix.n_docs)
    score = (fgp - bgp) * (fgp / bgp)
    return (j.where(F.col("fg") >= min_doc_count)
            .select("term", "fg", "bg", F.round(score, 6).alias("jlh"))
            .orderBy(F.col("jlh").desc(), F.col("term").asc())
            .limit(size))


def date_histogram_pipeline(df: DataFrame, field: str,
                            interval: str = "day",
                            n_partitions: int = 8) -> DataFrame:
    """date_histogram + cumulative_sum + derivative (pipeline aggs as
    window functions over the bucket table).

    Physical plan: ranged_pipeline_frame — cumulative sums are
    per-range-partition running totals + broadcast offsets (two-pass
    prefix sum), derivative lags across the boundary via carry rows;
    no single-task global window."""
    buckets = date_histogram(df, field, interval)
    base, off = ranged_pipeline_frame(buckets, key="key", carry=1,
                                      n_partitions=n_partitions,
                                      cum_metrics=("doc_count",))
    lw = Window.partitionBy("_pid").orderBy("key")
    cw = lw.rowsBetween(Window.unboundedPreceding, 0)
    run = F.sum(F.when(~F.col("_carry"), F.col("doc_count"))
                .otherwise(F.lit(0))).over(cw)
    return (base
            .withColumn("cumulative",
                        (run + off["doc_count"]).cast("long"))
            .withColumn("derivative",
                        (F.col("doc_count")
                         - F.lag("doc_count").over(lw)).cast("long"))
            .where(~F.col("_carry")).drop("_pid", "_carry")
            .orderBy("key"))


def composite_agg(df: DataFrame, sources: list[str], size: int,
                  after: tuple | None = None) -> DataFrame:
    """Composite agg: multi-source buckets in key order with keyset
    pagination (`after`)."""
    buckets = (df.groupBy(*[F.col(s) for s in sources])
               .agg(F.count("*").cast("long").alias("doc_count")))
    if after is not None:
        cond = None
        # lexicographic (k1, k2, ...) > after
        for i in range(len(sources)):
            eq = F.lit(True)
            for j in range(i):
                eq = eq & (F.col(sources[j]) == F.lit(after[j]))
            gt = eq & (F.col(sources[i]) > F.lit(after[i]))
            cond = gt if cond is None else (cond | gt)
        buckets = buckets.where(cond)
    return buckets.orderBy(*sources).limit(size)


def collapse(scored: DataFrame, field: str, k: int = 10) -> DataFrame:
    """Field collapsing: the single best hit per group, then global top-k
    (sv/search/collapse/CollapseBuilder.java)."""
    w = Window.partitionBy(field).orderBy(
        F.col("score").desc(), F.col("docid").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn")
            .orderBy(F.col("score").desc(), F.col("docid").asc())
            .limit(k))


def rescore(ex, q, rescore_q, window_size: int = 20, k: int = 10,
            query_weight: float = 1.0,
            rescore_weight: float = 2.0) -> DataFrame:
    """Rescore: re-rank only the top `window_size` primary hits with a
    second query's score (sv/search/rescore/QueryRescorer.java — total =
    query_weight·primary + rescore_weight·secondary)."""
    primary = (ex._plan(q, scored=True)
               .orderBy(F.col("score").desc(), F.col("docid").asc())
               .limit(window_size))
    secondary = ex._plan(rescore_q, scored=True) \
        .withColumnRenamed("score", "_s2")
    out = (primary.join(secondary, "docid", "left")
           .select("docid",
                   F.round(F.col("score") * query_weight
                           + F.coalesce(F.col("_s2"), F.lit(0.0))
                           * rescore_weight, 6).alias("score")))
    return (out.orderBy(F.col("score").desc(), F.col("docid").asc())
            .limit(k))


def matrix_stats(df: DataFrame, f1: str, f2: str) -> DataFrame:
    """Two-field covariance/correlation (modules/aggs-matrix-stats)."""
    a, b = F.col(f1).cast("double"), F.col(f2).cast("double")
    return df.agg(
        F.count("*").cast("long").alias("count"),
        F.round(F.covar_pop(a, b), 6).alias("covariance"),
        F.round(F.corr(a, b), 6).alias("correlation"))


# --- pipeline aggs over bucket tables (SearchModule.java:711-833) ----------

def ranged_pipeline_frame(buckets: DataFrame, key: str = "key",
                          carry: int = 1, n_partitions: int = 8,
                          cum_metrics: tuple = ()):
    """Range-partitioned frame for trailing-window pipeline aggs — the
    scale form replacing a bare `Window.orderBy(key)` (which funnels
    the whole bucket stream through ONE task; fine for histogram-sized
    tables, serializing for composite-paginated streams of 10^7
    buckets).  The `pack_sequences` two-pass prefix pattern
    (dataops.py:758):

    1. `repartitionByRange(key)` + `spark_partition_id`, pinned by
       localCheckpoint so both passes see the same placement;
    2. each partition's last `carry` rows are collected (bounded:
       n_partitions × carry rows) and re-injected into the NEXT
       non-empty partition flagged `_carry` — they feed trailing
       windows across the boundary and are dropped from output (a
       rolling driver-side buffer handles partitions shorter than
       `carry`);
    3. for every metric in `cum_metrics`, per-partition sums (one
       bounded collect) become literal offsets so running totals are
       per-partition sums + offset.

    Returns (frame with `_pid`/`_carry`, {metric: offset Column}).
    Callers window over Window.partitionBy('_pid').orderBy(key), then
    filter `~_carry` and drop the helpers."""
    rb = (buckets.repartitionByRange(n_partitions, F.col(key))
          .withColumn("_pid", F.spark_partition_id())
          .localCheckpoint())
    wdesc = Window.partitionBy("_pid").orderBy(F.col(key).desc())
    tails = (rb.withColumn("_rn", F.row_number().over(wdesc))
             .where(F.col("_rn") <= carry).drop("_rn").collect())
    sums = {}
    if cum_metrics:
        rows = rb.groupBy("_pid").agg(
            *[F.sum(F.col(c)).alias(c) for c in cum_metrics]).collect()
        sums = {r["_pid"]: r for r in rows}
    from collections import defaultdict
    by_pid = defaultdict(list)
    for r in tails:
        by_pid[r["_pid"]].append(r.asDict())
    # pids must come from BOTH collections: with carry=0 the tails
    # collect is empty but cumulative offsets still need every partition
    pids = sorted(set(by_pid) | set(sums))
    carry_rows: list[dict] = []
    prefix: list[dict] = []
    offsets: dict = {c: {} for c in cum_metrics}
    acc = {c: 0 for c in cum_metrics}
    for p in pids:
        if carry:
            for r in prefix[-carry:]:
                carry_rows.append({**r, "_pid": p, "_carry": True})
        for c in cum_metrics:
            offsets[c][p] = acc[c]
            acc[c] += sums[p][c] or 0
        if carry:
            prefix = (prefix + sorted(by_pid.get(p, ()),
                                      key=lambda r: r[key]))[-carry:]
    base = rb.withColumn("_carry", F.lit(False))
    if carry_rows:
        cdf = rb.sparkSession.createDataFrame(
            [tuple(r.get(f.name) for f in base.schema.fields)
             for r in carry_rows], schema=base.schema)
        base = base.unionByName(cdf)
    off_cols = {}
    for c in cum_metrics:
        expr = F.lit(0)
        for p, v in offsets[c].items():
            expr = F.when(F.col("_pid") == p, F.lit(v)).otherwise(expr)
        off_cols[c] = expr
    return base, off_cols


def moving_window_aggs(buckets: DataFrame, metric: str = "doc_count",
                       window: int = 3, lag: int = 1,
                       n_partitions: int = 8) -> DataFrame:
    """mov_avg (simple model) + mov_fn(max) + serial_diff as window
    functions over an ordered bucket table. The window is the trailing
    `window` buckets INCLUDING the current one (mov_fn shift=1 form);
    serial_diff subtracts the bucket `lag` positions back.
    Reference registrations: sv/search/SearchModule.java:711-833
    (mov_avg/mov_fn via MovAvgPipelineAggregationBuilder,
    SerialDiffPipelineAggregationBuilder).

    Physical plan: ranged_pipeline_frame — NO single-task global
    window; boundary rows carry across range partitions."""
    base, _ = ranged_pipeline_frame(buckets, key="key",
                                    carry=max(window - 1, lag),
                                    n_partitions=n_partitions)
    m = F.col(metric).cast("double")
    lw = Window.partitionBy("_pid").orderBy("key")
    w = lw.rowsBetween(-(window - 1), 0)
    return (base
            .withColumn("moving_avg", F.round(F.avg(m).over(w), 6))
            .withColumn("moving_max", F.max(m).over(w))
            .withColumn("serial_diff",
                        (m - F.lag(m, lag).over(lw)).cast("double"))
            .where(~F.col("_carry")).drop("_pid", "_carry")
            .orderBy("key"))


def _mov_model_expr(vals: str, model: str, alpha: float, beta: float,
                    gamma: float, period: int, multiplicative: bool) -> str:
    """Catalyst SQL expression evaluating one reference mov_avg model over
    an array<double> column named `vals` (the trailing window, oldest
    first). Mirrors MovingFunctions.java:126-380 exactly, including the
    quirks: linear's totalWeight starts at 1; holt seeds b=0 from the
    first point; holt_winters' initial seasonal is vs[i]/s in BOTH modes,
    the additive seasonal update uses (last_s - last_b), and multiplicative
    inputs get +1e-10 padding."""
    a, b, g, p = (repr(float(alpha)) + "D", repr(float(beta)) + "D",
                  repr(float(gamma)) + "D", int(period))
    if model == "simple":
        return (f"CASE WHEN size({vals}) > 0 THEN "
                f"aggregate({vals}, 0.0D, (acc, x) -> acc + x)"
                f" / size({vals}) END")
    if model == "linear":
        # avg = sum(v_i * i), totalWeight = 1 + sum(1..n)
        # (MovingFunctions.linearWeightedAvg:126-139 — the initial
        #  totalWeight = 1 is a reference quirk, preserved)
        return (f"CASE WHEN size({vals}) > 0 THEN "
                f"aggregate(zip_with({vals}, sequence(1, size({vals})),"
                f" (v, i) -> v * CAST(i AS DOUBLE)), 0.0D,"
                f" (acc, x) -> acc + x)"
                f" / (1.0D + size({vals}) * (size({vals}) + 1) / 2.0D)"
                f" END")
    if model == "ewma":
        # avg <- x*alpha + avg*(1-alpha), seeded with the first value
        # (MovingFunctions.ewma:155-170)
        return (f"CASE WHEN size({vals}) > 0 THEN "
                f"aggregate(slice({vals}, 2, size({vals}) - 1),"
                f" element_at({vals}, 1),"
                f" (acc, x) -> x * {a} + acc * (1.0D - {a})) END")
    if model == "holt":
        # s1 = v1, b1 = 0; s' = a*x + (1-a)*(s+b); b' = be*(s'-s)+(1-be)*b;
        # 1-step forecast = s (MovingFunctions.holtForecast:200-240)
        sn = f"({a} * x + (1.0D - {a}) * (acc.s + acc.b))"
        return (f"CASE WHEN size({vals}) > 0 THEN "
                f"aggregate(slice({vals}, 2, size({vals}) - 1),"
                f" named_struct('s', element_at({vals}, 1), 'b', 0.0D),"
                f" (acc, x) -> named_struct("
                f"   's', {sn},"
                f"   'b', {b} * ({sn} - acc.s) + (1.0D - {b}) * acc.b),"
                f" acc -> acc.s) END")
    if model == "holt_winters":
        # MovingFunctions.holtWintersForecast:276-380 — needs >= 2*period
        # points (HoltWintersModel.hasValue:266); level/trend initialised
        # from the first two seasons, seasonal fold carries the growing
        # seasonal array in the accumulator.
        pad = " + 0.0000000001D" if multiplicative else ""
        vs = f"transform({vals}, v -> v{pad})"
        s0 = f"(aggregate(slice({vs}, 1, {p}), 0.0D, (acc, x) -> acc + x) / {p}D)"
        b0 = (f"(aggregate(zip_with(slice({vs}, {p} + 1, {p}),"
              f" slice({vs}, 1, {p}), (hi, lo) -> (hi - lo) / {p}D),"
              f" 0.0D, (acc, x) -> acc + x) / {p}D)")
        seas0 = (f"CASE WHEN {s0} = 0.0D THEN"
                 f" transform(slice({vs}, 1, {p}), v -> 0.0D)"
                 f" ELSE transform(slice({vs}, 1, {p}), v -> v / {s0}) END")
        sp = f"element_at(acc.seas, size(acc.seas) - {p} + 1)"
        if multiplicative:
            sn = f"({a} * (x / {sp}) + (1.0D - {a}) * (acc.s + acc.b))"
            se = f"({g} * (x / (acc.s + acc.b)) + (1.0D - {g}) * {sp})"
            fin = (f"(acc.s + acc.b)"
                   f" * element_at(acc.seas, size(acc.seas) - {p} + 1)")
        else:
            sn = f"({a} * (x - {sp}) + (1.0D - {a}) * (acc.s + acc.b))"
            se = f"({g} * (x - (acc.s - acc.b)) + (1.0D - {g}) * {sp})"
            fin = (f"acc.s + acc.b"
                   f" + element_at(acc.seas, size(acc.seas) - {p} + 1)")
        return (f"CASE WHEN size({vals}) >= 2 * {p} THEN "
                f"aggregate(slice({vs}, {p} + 1, size({vs}) - {p}),"
                f" named_struct('s', {s0}, 'b', {b0}, 'seas', {seas0}),"
                f" (acc, x) -> named_struct("
                f"   's', {sn},"
                f"   'b', {b} * ({sn} - acc.s) + (1.0D - {b}) * acc.b,"
                f"   'seas', concat(acc.seas, array({se}))),"
                f" acc -> {fin}) END")
    raise ValueError(f"unknown mov_avg model {model!r}")


def moving_avg_model(buckets: DataFrame, metric: str = "doc_count",
                     model: str = "ewma", window: int = 5,
                     alpha: float = 0.3, beta: float = 0.1,
                     gamma: float = 0.3, period: int = 1,
                     multiplicative: bool = False) -> DataFrame:
    """mov_avg with the reference's pluggable model registry: simple /
    linear / ewma / holt (HoltLinearModel.java) / holt_winters
    (HoltWintersModel.java:56), per MovAvgPipelineAggregator.reduce:120-172
    semantics — the window for bucket i is the trailing `window` bucket
    values EXCLUDING bucket i, a bucket gets a value only when
    model.hasValue(|window|) (>=1, or >= 2*period for holt_winters), and
    null metric values are skipped (gap_policy skip).

    The recursion is evaluated as a Catalyst `aggregate` HOF fold over a
    `collect_list` trailing frame — no Python UDF, and the frame runs
    over ranged_pipeline_frame (carry rows across range partitions), so
    the bucket stream never funnels through one task; `minimize`
    (random-restart parameter fitting, EwmaModel.neighboringModel) is
    not implemented."""
    base, _ = ranged_pipeline_frame(buckets, key="key", carry=window)
    m = F.col(metric).cast("double")
    w = Window.partitionBy("_pid").orderBy("key").rowsBetween(-window, -1)
    expr = _mov_model_expr("__mv_vals", model, alpha, beta, gamma, period,
                           multiplicative)
    return (base
            .withColumn("__mv_vals", F.collect_list(m).over(w))
            # a null/NaN-valued bucket gets no mov_avg in the reference
            # (the InternalSimpleValue is added inside the non-null branch,
            # MovAvgPipelineAggregator.java:149-160)
            .withColumn("moving_avg",
                        F.when(m.isNotNull(),
                               F.round(F.expr(expr).cast("double"), 6)))
            .where(~F.col("_carry")).drop("__mv_vals", "_pid", "_carry")
            .orderBy("key"))


def bucket_script_chain(buckets: DataFrame, script: Column,
                        script_name: str, keep: Column,
                        sort_cols: list, size: int) -> DataFrame:
    """bucket_script → bucket_selector → bucket_sort composed over a
    multi-metric bucket table: compute a per-bucket expression from sibling
    metrics, filter buckets on a predicate, then sort + truncate
    (sv/search/SearchModule.java:760-790; BucketScript/BucketSelector/
    BucketSort pipeline aggregators)."""
    return (buckets.withColumn(script_name, script)
            .where(keep)
            .orderBy(*sort_cols)
            .limit(size))


# --- remaining bucket aggs (SearchModule.java:510-668) ---------------------

def rare_terms(df: DataFrame, field: str,
               max_doc_count: int = 1) -> DataFrame:
    """rare_terms: buckets with doc_count ≤ max_doc_count, ordered count
    asc then key asc (sv/search/SearchModule.java:668 — the reference's
    CuckooFilter false-positive bound vanishes in an exact global agg)."""
    return (df.groupBy(F.col(field).alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"))
            .where(F.col("doc_count") <= max_doc_count)
            .orderBy(F.col("doc_count").asc(), F.col("key").asc()))


def multi_terms(df: DataFrame, fields: list[str],
                size: int = 10) -> DataFrame:
    """multi_terms: compound-key buckets, count desc then keys asc
    (sv/search/SearchModule.java:543)."""
    return (df.groupBy(*[F.col(f) for f in fields])
            .agg(F.count("*").cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(),
                     *[F.col(f).asc() for f in fields])
            .limit(size))


def adjacency_matrix(df: DataFrame,
                     filters: dict[str, Column]) -> DataFrame:
    """adjacency_matrix: doc counts for each named filter and each pairwise
    intersection, keys 'a', 'a&b' in name order
    (sv/search/SearchModule.java:510; AdjacencyMatrixAggregationBuilder).
    One pass: every cell is a conditional sum."""
    names = sorted(filters)
    cells = []
    for i, a in enumerate(names):
        cells.append((a, filters[a]))
        for b in names[i + 1:]:
            cells.append((f"{a}&{b}", filters[a] & filters[b]))
    agg = df.agg(*[F.sum(c.cast("long")).alias(f"_c{i}")
                   for i, (_, c) in enumerate(cells)])
    parts = [F.struct(F.lit(i).alias("ord"), F.lit(k).alias("key"),
                      F.col(f"_c{i}").alias("doc_count"))
             for i, (k, _) in enumerate(cells)]
    return (agg.select(F.explode(F.array(*parts)).alias("b"))
            .select(F.col("b.key").alias("key"),
                    F.coalesce(F.col("b.doc_count"), F.lit(0))
                    .cast("long").alias("doc_count"), F.col("b.ord"))
            .where(F.col("doc_count") > 0)
            .orderBy("ord").drop("ord"))


def sampler_terms(scored: DataFrame, shard_size: int, field: str,
                  size: int = 10, diversify: str | None = None,
                  max_docs_per_value: int = 1) -> DataFrame:
    """sampler / diversified_sampler + child terms agg: restrict the
    sub-aggregation to the top `shard_size` docs by (score desc, docid asc);
    diversified limits each distinct `diversify` value to
    `max_docs_per_value` docs before the cut
    (sv/search/SearchModule.java:517-524; Sampler/DiversifiedAggregation-
    Builder — best-scoring-docs-first semantics, exact here because the
    aggregation is global rather than per-shard)."""
    s = scored
    if diversify is not None:
        dw = Window.partitionBy(diversify).orderBy(
            F.col("score").desc(), F.col("docid").asc())
        s = (s.withColumn("_dv", F.row_number().over(dw))
             .where(F.col("_dv") <= max_docs_per_value).drop("_dv"))
    top = (s.orderBy(F.col("score").desc(), F.col("docid").asc())
           .limit(shard_size))
    return (top.groupBy(F.col(field).alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(size))


#: auto_date_histogram candidate ladder, coarsest-last (the reference's
#: RoundingInfo ladder collapsed to the date_trunc-expressible units)
AUTO_DATE_INTERVALS = ("second", "minute", "hour", "day", "month", "year")


def auto_date_histogram(df: DataFrame, field: str,
                        target_buckets: int = 20) -> DataFrame:
    """auto_date_histogram: pick the finest calendar interval from the
    ladder that yields ≤ target_buckets buckets, then histogram at it
    (sv/search/SearchModule.java:603; AutoDateHistogramAggregationBuilder).
    Interval selection is one tiny driver-side agg (a handful of
    count-distincts); the histogram itself is the usual distributed
    groupBy."""
    counts = df.agg(*[
        F.countDistinct(F.date_trunc(iv, F.col(field))).alias(iv)
        for iv in AUTO_DATE_INTERVALS]).collect()[0]
    chosen = AUTO_DATE_INTERVALS[-1]
    for iv in AUTO_DATE_INTERVALS:
        if counts[iv] <= target_buckets:
            chosen = iv
            break
    return (date_histogram(df, field, chosen)
            .withColumn("interval", F.lit(chosen)))


def date_range_agg(df: DataFrame, field: str,
                   ranges: list[tuple[str | None, str | None]]) -> DataFrame:
    """date_range: [from, to) timestamp buckets, order = range position
    (sv/index/query/RangeQueryBuilder semantics on the agg side)."""
    rows = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(field) >= F.to_timestamp(F.lit(lo)))
        if hi is not None:
            cond = cond & (F.col(field) < F.to_timestamp(F.lit(hi)))
        key = f"{lo or '*'}-{hi or '*'}"
        rows.append((i, key, F.sum(cond.cast("long")).alias(f"r{i}")))
    agg = df.agg(*[r[2] for r in rows])
    parts = [F.struct(F.lit(i).alias("ord"), F.lit(key).alias("key"),
                      F.col(f"r{i}").alias("doc_count"))
             for i, key, _ in rows]
    return (agg.select(F.explode(F.array(*parts)).alias("b"))
            .select(F.col("b.key").alias("key"),
                    F.col("b.doc_count").cast("long").alias("doc_count"),
                    F.col("b.ord").alias("_o"))
            .orderBy("_o").drop("_o"))


def variable_width_histogram(df: DataFrame, field: str,
                             buckets: int = 10,
                             tie_col: str | None = None,
                             exact: bool = True) -> DataFrame:
    """variable_width_histogram: N variable-width clusters over a numeric
    field — min/max/avg/doc_count per cluster, ordered by position
    (sv/search/SearchModule.java:612; VariableWidthHistogramAggregationBuilder).

    The reference's one-pass streaming clusterer is order-sensitive and
    shard-local; the deterministic distributed form here assigns values to
    equal-frequency rank slices — the same "adaptive widths follow the
    data density" contract with a stable, oracle-checkable definition.

    exact=True (the oracle gate): ntile over the global value order — a
    single-partition window sort, correct at any SF that fits a task.
    exact=False (the 100 TB path): bucket boundaries from
    approx_percentile (fully distributed, one small driver row), then a
    broadcast range lookup — no global sort; clusters differ from the
    exact ranks only at quantile-sketch error."""
    keep = [F.col(field).alias("_v")] + \
        ([F.col(tie_col).alias("_tie")] if tie_col else [])
    src = df.where(F.col(field).isNotNull()).select(*keep)
    if exact:
        order = [F.col("_v").asc()] + \
            ([F.col("_tie").asc()] if tie_col else [])
        w = Window.orderBy(*order)
        assigned = src.select("_v", F.ntile(buckets).over(w).alias("bucket"))
    else:
        qs = [i / buckets for i in range(1, buckets)]
        row = src.agg(F.percentile_approx(
            "_v", qs, 10000).alias("b")).collect()[0]["b"]
        cond = F.lit(buckets)
        for i in range(buckets - 1, 0, -1):
            cond = F.when(F.col("_v") <= F.lit(row[i - 1]), i) \
                .otherwise(cond)
        assigned = src.select("_v", cond.alias("bucket"))
    return (assigned
            .groupBy("bucket")
            .agg(F.min("_v").alias("min"), F.max("_v").alias("max"),
                 F.avg("_v").alias("avg"),
                 F.count("*").cast("long").alias("doc_count"))
            .orderBy("bucket"))


def scripted_metric(df: DataFrame, map_expr: Column,
                    combine: str = "sum", reduce: str = "sum") -> DataFrame:
    """scripted_metric: map/combine/reduce as explicit phases —
    map_expr per doc, `combine` folds per shard (spark partition),
    `reduce` folds the shard states (ScriptedMetricAggregationBuilder;
    scripts become Catalyst column expressions, the engine's Painless
    analogue). The two-level agg mirrors the reference's shard→coordinator
    structure; both levels are whole-stage-codegen aggs, and the shard
    level is exactly Spark's map-side partial aggregation."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg,
           "count": F.count}
    part = (df.select(F.spark_partition_id().alias("_shard"),
                      map_expr.alias("_m"))
            .groupBy("_shard").agg(fns[combine]("_m").alias("_state")))
    return part.agg(fns[reduce]("_state").alias("value"))


def _ip_num(col: Column) -> Column:
    """Dotted-quad IPv4 → uint32-as-long (the comparable form the
    reference's IP ranges bucket on — sortable BytesRef order for v4)."""
    p = F.split(col, r"\.")
    return (p.getItem(0).cast("long") * 16777216
            + p.getItem(1).cast("long") * 65536
            + p.getItem(2).cast("long") * 256
            + p.getItem(3).cast("long"))


def ip_range_agg(df: DataFrame, field: str,
                 ranges: list[tuple[str | None, str | None]]) -> DataFrame:
    """ip_range: [from, to) buckets, order = range position
    (IpRangeAggregationBuilder). One pass of conditional sums, like
    date_range_agg.  v4-only endpoint lists compare as uint32; any v6
    endpoint switches every bucket into the shared 16-byte encoded
    space (fieldtypes.ip16_hex) — the reference buckets both families
    on the same InetAddressPoint order."""
    has_v6 = any(b is not None and ":" in b
                 for lo, hi in ranges for b in (lo, hi))
    if has_v6:
        from sparksearch.fieldtypes import ip16_hex, ip16_lit
        v = ip16_hex(F.col(field))
        lit = ip16_lit
    else:
        v = _ip_num(F.col(field))
        lit = lambda b: _ip_num(F.lit(b))  # noqa: E731
    rows = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= lit(lo))
        if hi is not None:
            cond = cond & (v < lit(hi))
        key = f"{lo or '*'}-{hi or '*'}"
        rows.append((i, key, F.sum(cond.cast("long")).alias(f"r{i}")))
    agg = df.agg(*[r[2] for r in rows])
    parts = [F.struct(F.lit(i).alias("ord"), F.lit(key).alias("key"),
                      F.col(f"r{i}").alias("doc_count"))
             for i, key, _ in rows]
    return (agg.select(F.explode(F.array(*parts)).alias("b"))
            .select(F.col("b.key").alias("key"),
                    F.col("b.doc_count").cast("long").alias("doc_count"),
                    F.col("b.ord").alias("_o"))
            .orderBy("_o").drop("_o"))


def global_agg(ex, q, field: str = "dl") -> DataFrame:
    """`global` bucket: aggregates over ALL docs of the index, ignoring the
    query filter, alongside the query-scoped count (reference reg.
    sv/search/SearchModule.java:488 — GlobalAggregationBuilder escapes the
    query scope). Two independent single-row aggs, cross-joined (both are
    1-row, so the join is a driver no-op in the plan)."""
    c = F.col(field).cast("double")
    in_query = matched_docs(ex, q).agg(
        F.count("*").cast("long").alias("query_doc_count"))
    global_ = ex.ix.docs.agg(
        F.count("*").cast("long").alias("global_doc_count"),
        F.round(F.avg(c), 6).alias("global_avg"))
    return in_query.crossJoin(global_)


def percentile_ranks_agg(df: DataFrame, field: str,
                         values: list[float]) -> DataFrame:
    """percentile_ranks: for each given value, the percent of docs whose
    field ≤ value (reference metrics/PercentileRanksAggregationBuilder;
    t-digest inverse-CDF — exact here, one conditional-avg pass per value
    inside a single aggregation, then unpivoted to (value, pct) rows)."""
    c = F.col(field).cast("double")
    agg = df.agg(*[
        F.round(F.avg(F.when(c <= float(v), 100.0).otherwise(0.0)), 6)
        .alias(f"_r{i}") for i, v in enumerate(values)])
    parts = [F.struct(F.lit(float(v)).alias("value"),
                      F.col(f"_r{i}").alias("pct"))
             for i, v in enumerate(values)]
    return (agg.select(F.explode(F.array(*parts)).alias("b"))
            .select("b.value", "b.pct").orderBy("value"))


def bucket_metrics(buckets: DataFrame, metric: str = "doc_count",
                   key: str = "key") -> DataFrame:
    """The sibling-bucket pipeline aggs in one pass: avg_bucket /
    sum_bucket / min_bucket / max_bucket / stats_bucket (reference reg.
    sv/search/SearchModule.java:711-833). min/max report ALL bucket keys
    attaining the extremum (InternalBucketMetricValue keeps a keys list),
    joined sorted+comma-separated. collect_list is over the already-
    aggregated bucket table (small by construction), not over docs."""
    m = F.col(metric).cast("double")
    row = buckets.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.round(F.avg(m), 6).alias("avg_bucket"),
        F.round(F.sum(m), 6).alias("sum_bucket"),
        F.min(m).alias("min_bucket"),
        F.max(m).alias("max_bucket"),
        F.collect_list(F.struct(m.alias("v"), F.col(key).cast("string")
                                .alias("k"))).alias("_all"))
    def keys_of(bound: str):
        return F.array_join(F.array_sort(F.expr(
            f"transform(filter(_all, x -> x.v = {bound}), x -> x.k)")), ",")
    return row.select(
        "n_buckets", "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
        keys_of("min_bucket").alias("min_keys"),
        keys_of("max_bucket").alias("max_keys"))


def extended_stats_bucket(buckets: DataFrame, metric: str = "doc_count",
                          sigma: float = 2.0) -> DataFrame:
    """extended_stats_bucket sibling pipeline agg (reference reg.
    sv/search/SearchModule.java:711-833, ExtendedStatsBucketPipeline-
    AggregationBuilder): population variance/stddev of a sibling bucket
    table's metric plus the ±sigma std-deviation bounds the reference's
    InternalExtendedStats reports. One single-row agg over the already-
    reduced bucket table."""
    m = F.col(metric).cast("double")
    row = buckets.agg(
        F.count("*").cast("long").alias("count"),
        F.min(m).alias("min"), F.max(m).alias("max"),
        F.round(F.avg(m), 6).alias("avg"),
        F.round(F.sum(m), 6).alias("sum"),
        F.round(F.sum(m * m), 6).alias("sum_of_squares"),
        F.round(F.var_pop(m), 6).alias("variance"),
        F.round(F.stddev_pop(m), 6).alias("std_deviation"))
    return row.select(
        "*",
        F.round(F.col("avg") + sigma * F.col("std_deviation"), 6)
        .alias("std_upper"),
        F.round(F.col("avg") - sigma * F.col("std_deviation"), 6)
        .alias("std_lower"))


def percentiles_bucket(buckets: DataFrame, metric: str = "doc_count",
                       pcts: list[float] = (0.25, 0.5, 0.75)) -> DataFrame:
    """percentiles_bucket pipeline agg: exact percentiles of a sibling
    bucket table's metric (reference reg. sv/search/SearchModule.java:711-833,
    PercentilesBucketPipelineAggregationBuilder). Exact is correct here
    even at scale — the input is an already-aggregated bucket table."""
    m = F.col(metric).cast("double")
    return buckets.agg(*[
        F.round(F.percentile(m, F.lit(float(p))), 6)
        .alias(f"p{int(p * 100)}") for p in pcts])


# --- round-2i metric/pipeline aggs (SearchModule registrations) ------------

def boxplot_agg(df: DataFrame, field: str) -> DataFrame:
    """`boxplot` agg: min / q1 / q2 / q3 / max (exact interpolated
    percentiles — the small-scale oracle gate; approx_percentile is the
    documented 100 TB swap). Reference reg.: BoxplotAggregationBuilder
    (analytics module)."""
    v = F.col(field).cast("double")
    return df.agg(
        F.min(v).alias("min"),
        F.round(F.percentile(v, F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile(v, F.lit(0.5)), 6).alias("q2"),
        F.round(F.percentile(v, F.lit(0.75)), 6).alias("q3"),
        F.max(v).alias("max"))


def top_metrics_agg(df: DataFrame, sort_field: str, metric_fields: list[str],
                    size: int = 3, asc: bool = False) -> DataFrame:
    """`top_metrics`: the metric values of the top-`size` docs by
    `sort_field` (TopMetricsAggregationBuilder). TakeOrderedAndProject —
    never a full sort."""
    key = F.col(sort_field)
    order = [key.asc() if asc else key.desc(), F.col("docid").asc()]
    return df.orderBy(*order).limit(size) \
             .select(sort_field, *metric_fields)


def t_test_agg(df: DataFrame, field: str, group_col: Column) -> DataFrame:
    """`t_test` (heteroscedastic / Welch): t = (m_a − m_b) /
    sqrt(s²_a/n_a + s²_b/n_b) with sample variances
    (TTestAggregationBuilder, analytics module)."""
    v = F.col(field).cast("double")
    g = df.groupBy(group_col.alias("_g")).agg(
        F.avg(v).alias("m"), F.var_samp(v).alias("s2"),
        F.count("*").cast("double").alias("n"))
    a = g.filter(F.col("_g")).select(F.col("m").alias("ma"),
                                     F.col("s2").alias("sa"),
                                     F.col("n").alias("na"))
    b = g.filter(~F.col("_g")).select(F.col("m").alias("mb"),
                                      F.col("s2").alias("sb"),
                                      F.col("n").alias("nb"))
    return a.crossJoin(b).select(
        F.round((F.col("ma") - F.col("mb"))
                / F.sqrt(F.col("sa") / F.col("na")
                         + F.col("sb") / F.col("nb")), 6).alias("t"))


def rate_agg(buckets: DataFrame, metric: str = "doc_count",
             bucket_seconds: float = 60.0,
             unit_seconds: float = 1.0) -> DataFrame:
    """`rate` inside a date_histogram: metric / (bucket span in rate
    units) (RateAggregationBuilder)."""
    m = F.col(metric).cast("double")
    return buckets.withColumn(
        "rate", F.round(m / F.lit(bucket_seconds / unit_seconds), 6)) \
        .orderBy("key")


def normalize_agg(buckets: DataFrame, metric: str = "doc_count") -> DataFrame:
    """`normalize` pipeline agg: percent_of_sum + rescale_0_1 over the
    sibling buckets (NormalizePipelineAggregationBuilder)."""
    m = F.col(metric).cast("double")
    w = Window.partitionBy()
    return (buckets
            .withColumn("percent_of_sum",
                        F.round(m / F.sum(m).over(w), 6))
            .withColumn("rescale_0_1",
                        F.round((m - F.min(m).over(w))
                                / (F.max(m).over(w) - F.min(m).over(w)), 6))
            .orderBy("key"))


def string_stats_agg(df: DataFrame, field: str) -> DataFrame:
    """`string_stats` with show_distribution's entropy: count / min_length /
    max_length / avg_length over values, plus the Shannon entropy (log2) of
    the CHARACTER distribution across all values
    (StringStatsAggregationBuilder, analytics module). The char histogram
    is an explode + groupBy — map-side combinable on a Zipf alphabet."""
    v = F.col(field)
    lens = df.filter(v.isNotNull()).select(v.alias("_v"),
                                           F.length(v).alias("_l"))
    base = lens.agg(F.count("*").cast("long").alias("count"),
                    F.min("_l").alias("min_length"),
                    F.max("_l").alias("max_length"),
                    F.round(F.avg("_l"), 6).alias("avg_length"))
    chars = (lens.select(F.explode(F.split("_v", "")).alias("c"))
             .filter(F.col("c") != "")
             .groupBy("c").agg(F.count("*").cast("double").alias("n")))
    tot = chars.agg(F.sum("n").alias("t"))
    ent = (chars.crossJoin(F.broadcast(tot))
           .select((F.col("n") / F.col("t")).alias("p"))
           .agg(F.round(-F.sum(F.col("p") * F.log2("p")), 6)
                .alias("entropy")))
    return base.crossJoin(ent)


def terms_agg_sharded(df: DataFrame, field: str, size: int = 10,
                      shard_size: int = 25,
                      shard_col: Column | None = None) -> DataFrame:
    """Terms agg with the reference's distributed merge semantics: each
    shard returns only its local top `shard_size` buckets, the coordinator
    sums what came back and reports a per-bucket
    `doc_count_error_upper_bound` (sv TermsAggregator / InternalTerms
    reduce: a shard that did NOT return a bucket may have been hiding up
    to its last returned count of it).

    A shard's error contribution is its smallest RETURNED count — zero if
    it returned every bucket it had (nothing hidden). A bucket's bound is
    the sum over shards that missed it, computed as
    T − Σ(contributions of shards that did return it).

    `shard_col` defaults to `spark_partition_id()` (real shards). Pass an
    explicit deterministic column (e.g. `doc_id % n`) for reproducible
    tests/oracles — the algebra is identical either way. The exact
    `terms_agg` needs no bounds; this exists to mirror the reference's
    coordinator protocol and for one-pass approximations where shipping
    full per-shard bucket lists is the bottleneck.
    """
    shard = (shard_col if shard_col is not None
             else F.spark_partition_id()).alias("_shard")
    local = (df.filter(F.col(field).isNotNull())
             .groupBy(shard, F.col(field).alias("key"))
             .agg(F.count("*").cast("long").alias("cnt")))
    w = (Window.partitionBy("_shard")
         .orderBy(F.col("cnt").desc(), F.col("key").asc()))
    ranked = local.withColumn("_rn", F.row_number().over(w))
    returned = ranked.filter(F.col("_rn") <= shard_size)
    per_shard = (ranked.groupBy("_shard")
                 .agg(F.count("*").alias("n_all"),
                      F.min(F.when(F.col("_rn") <= shard_size,
                                   F.col("cnt"))).alias("cut")))
    cutoffs = per_shard.select(
        "_shard",
        F.when(F.col("n_all") > shard_size, F.col("cut"))
        .otherwise(F.lit(0)).cast("long").alias("cut_eff"))
    total_cut = cutoffs.agg(F.sum("cut_eff").alias("_t"))
    merged = (returned.join(cutoffs, "_shard")
              .groupBy("key")
              .agg(F.sum("cnt").cast("long").alias("doc_count"),
                   F.sum("cut_eff").cast("long").alias("_seen_cut")))
    return (merged.crossJoin(F.broadcast(total_cut))
            .select("key", "doc_count",
                    (F.col("_t") - F.col("_seen_cut")).cast("long")
                    .alias("doc_count_error_upper_bound"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(size))


def nested_terms(docs: DataFrame, path: str, leaf: str,
                 size: int = 10, key_col: str = "url") -> DataFrame:
    """nested + reverse_nested aggregation: bucket the ELEMENTS of an
    array-of-structs nested field (the nested agg's doc_count counts
    nested docs, not parents) and attach each bucket's parent-doc count
    (the reverse_nested sub-agg). One explode + one grouped aggregation;
    the parent count is an exact distinct over the doc key inside the
    same shuffle. Reference: sv/search/aggregations/bucket/nested/
    NestedAggregationBuilder.java + ReverseNestedAggregationBuilder.java
    (SearchModule.java:142-144 registrations).
    """
    name = leaf[len(path) + 1:] if leaf.startswith(path + ".") else leaf
    e = F.explode(F.col(path)).alias("_e")
    return (docs.select(F.col(key_col).alias("_doc"), e)
            .groupBy(F.col(f"_e.{name}").alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
                 F.countDistinct("_doc").cast("long")
                  .alias("parent_doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(size))


def expected_reciprocal_rank(ranked: DataFrame, rated: DataFrame,
                             k: int = 10,
                             max_grade: int = 3) -> DataFrame:
    """rank_eval ERR@k — Expected Reciprocal Rank over graded relevance
    (modules/rank-eval/.../ExpectedReciprocalRank.java; Chapelle et al.
    2009): ERR = Σ_i (1/i) · R_i · Π_{j<i} (1 − R_j) with
    R = (2^grade − 1) / 2^max_grade, unrated docs grade 0.

    `ranked` carries (docid, score); `rated` carries (docid, grade).
    The cascade product is exp(Σ ln(1−R)) over the preceding window —
    safe because R < 1 for every finite grade — so the whole metric is
    one window pass over k rows (rated is broadcast; nothing here scales
    with the corpus, only with k)."""
    w_rank = Window.orderBy(F.col("score").desc(), F.col("docid").asc())
    j = (ranked.withColumn("rank", F.row_number().over(w_rank))
         .filter(F.col("rank") <= int(k))
         .join(F.broadcast(rated.select("docid", "grade")), "docid", "left")
         .withColumn("g", F.coalesce(F.col("grade"), F.lit(0))
                     .cast("double")))
    r = (F.pow(F.lit(2.0), F.col("g")) - 1.0) / float(2 ** max_grade)
    j = j.withColumn("_r", r)
    w_prev = (Window.orderBy("rank")
              .rowsBetween(Window.unboundedPreceding, -1))
    stopped = F.exp(F.coalesce(F.sum(F.log(1.0 - F.col("_r"))).over(w_prev),
                               F.lit(0.0)))
    contrib = F.col("_r") / F.col("rank") * stopped
    return (j.withColumn("_c", contrib)
            .agg(F.round(F.sum("_c"), 6).alias(f"err_at_{int(k)}")))
