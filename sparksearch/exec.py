"""Query execution: AST → DataFrame plan → BM25 top-k.

Spark form of the reference's QUERY_THEN_FETCH lifecycle (SURVEY.md §3.1)
with DFS-global statistics baked in at build time:

  1. driver-side rewrite: analyze query text with the index's analyzer,
     normalize bool/minimum_should_match (queries.py) — the analogue of
     Rewriteable.rewrite on the coordinator.
  2. per-clause plan: postings_for(terms) [partition-pruned scan] →
     score expression, with each term's df/cf looked up in a literal
     map built from the reader's cached stats_for(terms) — no stats scan
     and no join; all whole-stage-codegen'd JVM expressions, zero Python
     in the hot path.
  3. combine: groupBy(docid) for OR/msm, inner joins for AND, left_anti for
     must_not (SURVEY.md §2.7 set ops).
  4. global top-k: orderBy(score desc, docid asc).limit(k) — Spark's
     TakeOrderedAndProject = per-partition top-k + merge, exactly the
     reference's per-shard collector + coordinator mergeTopDocs
     (sv/action/search/SearchPhaseController.java:191-249).
  5. fetch: broadcast join of the k-row result against docs for url,
     re-ordered by another TakeOrderedAndProject over ≤ k rows — the
     FetchPhase equivalent (sv/search/fetch/FetchPhase.java:96-268).

Phrase queries intersect position arrays with built-in array functions
(array_intersect over shifted positions) — no UDF.

Scoring: the BM25 kernel in bm25.py. A posting row scores
weight_t·tfn(tf, dl_q), with weight_t = idf·(k1+1) a driver float looked
up in a literal map and tfn the kernel's one expression tree over double
Columns; `_combine` sums a doc's rows per query in sorted-term order, so
the plan path, WAND, explain and oracle.py agree bit for bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparksearch import bm25
from sparksearch.analysis import analyze
from sparksearch.index import IndexReader, literal_frame
from sparksearch.queries import (
    Bool, Boosting, ConstantScore, DecayFunction, DisMax, Exists,
    CommonTerms, DistanceFeature,
    FieldValueFactor, FunctionScore, Fuzzy, Ids, Intervals, Match,
    MatchAll, MatchBoolPrefix, MatchNone, MatchPhrase, MatchPhrasePrefix,
    MoreLikeThis,
    FieldMaskingSpan,
    MultiMatch, Named, Nested, Prefix, Query, RandomScore, Range,
    RankFeature, Regexp,
    Script,
    ScriptScore,
    SpanFirst, SpanNear, SpanNot,
    SpanMulti, SpanOr, SpanWithin, Term, Terms, TermsSet,
    TextPrefix, WeightFunction, Wildcard, calculate_min_should_match,
)

__all__ = ["Executor"]


def _literal_prefix(pattern: str, metachars: str) -> str:
    """Leading literal characters of a wildcard/regex pattern (empty when
    the pattern starts with a metacharacter)."""
    out = []
    for ch in pattern:
        if ch in metachars:
            break
        out.append(ch)
    return "".join(out)


_DURATION_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0,
                   "d": 86400.0}


def _duration_seconds(v) -> float:
    """'100s'/'7d'/'500ms' → seconds; bare numbers pass through
    (DistanceFeatureQueryBuilder pivot parsing, TimeValue units)."""
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v).strip()
    for u in sorted(_DURATION_UNITS, key=len, reverse=True):
        if s.endswith(u):
            return float(s[:-len(u)]) * _DURATION_UNITS[u]
    return float(s)


def _term_lookup(values: dict) -> Column:
    """The row's `term` looked up in a driver-side {term: value} dict,
    inlined as a literal map — null for a term the dict lacks."""
    if not values:
        return F.lit(None)
    return F.element_at(
        F.create_map(*[x for t, v in values.items()
                       for x in (F.lit(t), F.lit(v))]), F.col("term"))


def _bm25_scores(stats: dict, n_docs: int, avgdl: float,
                 k1: float, b: float) -> Column:
    """The kernel's row value weight_t·tfn(tf, dl_q) of a (term, tf, dl_q)
    row whose term is in `stats` (a stats_for dict)."""
    w = _term_lookup({t: bm25.weight(v[0], n_docs, k1)
                      for t, v in stats.items()})
    return w * bm25.tfn(F.col("tf").cast("double"),
                        F.col("dl_q").cast("double"), float(avgdl), k1, b)


def _combine(per: DataFrame, cnts: list[dict]) -> DataFrame:
    """(docid, _s{j}, _n{j}) for each query term-count dict cnts[j], from
    (docid, term, score) rows in one groupBy(docid): query j's matched
    count _n{j} = Σ cnt_t over the doc's rows, and its score _s{j} folds
    bm25.step over the doc's (term, score) list sorted by term — the
    order of bm25.combine, whatever order the rows arrive in. Terms
    outside query j step by 0·s, which adds 0.0."""
    maps = [F.create_map(*[x for t, c in sorted(cnt.items())
                           for x in (F.lit(t), F.lit(int(c)))])
            for cnt in cnts]

    def cnt_of(m: Column, term: Column) -> Column:
        return F.coalesce(F.element_at(m, term), F.lit(0))

    def fold(m: Column):
        return lambda total, x: bm25.step(total, cnt_of(m, x["term"]),
                                          x["score"])

    agg = per.groupBy("docid").agg(
        F.array_sort(F.collect_list(F.struct("term", "score"))).alias("_ts"),
        *[F.sum(cnt_of(m, F.col("term"))).alias(f"_n{j}")
          for j, m in enumerate(maps)])
    return agg.select(
        "docid",
        *[F.aggregate("_ts", F.lit(0.0), fold(m)).alias(f"_s{j}")
          for j, m in enumerate(maps)],
        *[f"_n{j}" for j in range(len(maps))])


class Executor:
    """Executes Query ASTs against an IndexReader."""

    def __init__(self, index: IndexReader, fixed_now=None,
                 similarity=None, source_pages=None):
        self.ix = index
        #: source corpus frame (url, text) for fetch-phase re-analysis —
        #: needed only by more_like_this's doc-reference form (the
        #: reference reads _source via TermVectorsService)
        self.source_pages = source_pages
        #: injectable `now` for date-math ranges (the reference freezes now
        #: per request context — sv/index/query/QueryShardContext nowInMillis)
        self.fixed_now = fixed_now
        #: scoring model (SimilarityService) — explicit arg > the index's
        #: persisted `similarity` setting > default BM25(k1=1.2, b=0.75)
        from sparksearch.similarity import from_config
        self.sim = from_config(
            similarity if similarity is not None
            else index.meta.get("similarity"))
        #: active time-pruning windows (innermost last) — pushed while
        #: planning a bool whose filter context bounds warc_ts, consumed
        #: by _term_scores so scoring scans skip whole pday directories
        #: (the can_match pre-filter analogue)
        self._twindow: list[tuple] = []

    # ---- public API --------------------------------------------------------
    def search(self, q: Query, k: int = 10, fetch: bool = True,
               mode: str = "auto", min_score: float | None = None) -> DataFrame:
        """Top-k (docid, score[, url]) — score desc, docid asc.

        mode: "auto" uses the block-max WAND pruned path (wand.py) for match
        queries when packed segments are available; "wand" forces it;
        "plan" forces the generic DataFrame plan.
        min_score drops hits scoring below the cutoff before the top-k cut
        (the search request's `min_score`, sv/search/internal/
        ContextIndexSearcher + SearchContext.minimumScore).
        """
        # auto mode additionally requires the packed segments to cover
        # exactly the committed generations — in the window between a
        # meta.json commit and the generation's segment build (crash or
        # concurrent reader), WAND over stale segments would silently omit
        # the new docs, so fall back to the row-postings plan instead.
        # mode="wand" trusts the caller (tests that just built segments).
        # fuzziness expands over the dictionary — the WAND path scores
        # exact terms only and would silently drop the expansion
        # the packed impact pairs are raw (max_tf, min_dlq) statistics,
        # so WAND stays exact under ANY BM25 (k1, b) — bounds are
        # re-derived at query time (wand_topk docstring); non-BM25
        # similarities (LM/DFR/DFI/IB/boolean/scripted) use the plan path.
        from sparksearch.similarity import BM25Similarity
        use_wand = (mode in ("auto", "wand") and isinstance(q, Match)
                    and q.fuzziness is None
                    and isinstance(self.sim, BM25Similarity)
                    and self.ix.use_segments
                    and (mode == "wand" or self.ix.segments_cover_all()))
        if use_wand:
            # synonym-stacked analyzers need blended per-position scoring —
            # the packed-segment WAND path scores exact terms independently
            toks = analyze(q.text, q.analyzer or self.ix.search_analyzer)
            if len({p for _, p in toks}) != len(toks):
                use_wand = False
        if use_wand:
            from sparksearch.wand import wand_topk
            topk = wand_topk(self.ix, q, k, k1=self.sim.k1, b=self.sim.b)
            if min_score is not None:
                topk = topk.filter(F.col("score") >= float(min_score))
        else:
            scored = self._plan(q, scored=True)
            if min_score is not None:
                scored = scored.filter(F.col("score") >= float(min_score))
            topk = (scored
                    .orderBy(F.col("score").desc(), F.col("docid").asc())
                    .limit(k))
        if fetch:
            # FetchPhase: k-row result broadcast against the corpus-side
            # dict; the limit makes the re-sort one TakeOrderedAndProject
            # instead of a range-partitioned global sort
            topk = (self.ix.docs.select("docid", "url")
                    .join(F.broadcast(topk), "docid")
                    .select("docid", "url", "score")
                    .orderBy(F.col("score").desc(), F.col("docid").asc())
                    .limit(k))
        return topk

    def count(self, q: Query) -> int:
        return self._plan(q, scored=False).count()

    def msearch(self, queries: dict[str, Query], k: int = 10,
                fetch: bool = True) -> DataFrame:
        """`_msearch`: N queries answered in ONE job — the batch engine's
        sweet spot at scale, where per-query fixed latency amortizes to
        zero (sv/action/search/TransportMultiSearchAction.java batches
        sub-searches; here they FUSE). A batch of plain match queries
        plans as a single postings scan over the union of all query terms,
        one groupBy(docid) computing every query's score and weighted
        clause count, an unpivot, and one per-query top-k window — scan
        count and shuffle count are independent of N. Non-fusable queries
        fall back to per-leg plans unioned into the same job.

        Returns (query_id, docid[, url], score), rank ≤ k per query,
        ordered by (query_id, score desc, docid)."""
        from pyspark.sql import Window
        items = list(queries.items())
        fus = [(qid, q) for qid, q in items if self._fusable(q)]
        rest = [(qid, q) for qid, q in items if not self._fusable(q)]
        legs = []
        if fus:
            infos = []
            for qid, q in fus:
                cnt, need = self._match_clause_info(q)
                if cnt:
                    infos.append((qid, cnt, need))
            if infos:
                all_terms = sorted(set().union(
                    *[set(cnt) for _, cnt, _ in infos]))
                fused = _combine(self._term_scores(all_terms, True),
                                 [cnt for _, cnt, _ in infos])
                parts = [F.struct(
                    F.lit(qid).alias("query_id"),
                    F.col(f"_s{j}").alias("score"),
                    (F.col(f"_n{j}") >= float(need)).alias("_ok"))
                    for j, (qid, _cnt, need) in enumerate(infos)]
                legs.append(
                    fused.select("docid",
                                 F.explode(F.array(*parts)).alias("b"))
                    .filter(F.col("b._ok"))
                    .select(F.col("b.query_id").alias("query_id"),
                            "docid", F.col("b.score").alias("score")))
        for qid, q in rest:
            legs.append(self._plan(q, scored=True).select(
                F.lit(qid).alias("query_id"), "docid", "score"))
        if not legs:
            return self._empty().select(
                F.lit("").alias("query_id"), "docid", "score")
        allq = reduce(lambda a, b: a.unionByName(b), legs)
        rn = F.row_number().over(
            Window.partitionBy("query_id")
                  .orderBy(F.col("score").desc(), F.col("docid").asc()))
        topk = allq.withColumn("_rn", rn).filter(F.col("_rn") <= k) \
                   .drop("_rn")
        if fetch:
            topk = (self.ix.docs.select("docid", "url")
                    .join(F.broadcast(topk), "docid")
                    .select("query_id", "docid", "url", "score"))
        # ≤ k rows per query: the limit only turns the sort into one
        # TakeOrderedAndProject
        return topk.orderBy("query_id", F.col("score").desc(),
                            F.col("docid").asc()).limit(k * len(items))

    # ---- planning: Query -> DataFrame(docid, score) ------------------------
    def _plan(self, q: Query, scored: bool) -> DataFrame:
        ix = self.ix
        if isinstance(q, MatchAll):
            return ix.docs.select(
                "docid", F.lit(1.0 if scored else 0.0).alias("score"))
        if isinstance(q, MatchNone):
            return self._empty()
        if isinstance(q, Match):
            return self._plan_match(q, scored)
        if isinstance(q, MatchPhrase):
            return self._plan_phrase(q, scored)
        if isinstance(q, Named):
            # _name is fetch-phase metadata (MatchedQueriesPhase) — the
            # plan is exactly the inner query's plan
            return self._plan(q.query, scored)
        if isinstance(q, Nested):
            return self._plan_nested(q, scored)
        if isinstance(q, (Term, Terms, Range, Exists, Prefix, Ids, Script)):
            return self._plan_docvalue_filter(q)
        if isinstance(q, Bool):
            return self._plan_bool(q, scored)
        if isinstance(q, (Wildcard, Regexp, Fuzzy, TextPrefix)):
            return self._plan_multiterm(q, scored)
        if isinstance(q, ConstantScore):
            inner = self._plan(q.filter_query, scored=False).select("docid")
            return inner.select(
                "docid", F.lit(float(q.boost) if scored else 0.0)
                .alias("score"))
        if isinstance(q, DisMax):
            return self._plan_dismax(q, scored)
        if isinstance(q, Boosting):
            return self._plan_boosting(q, scored)
        if isinstance(q, MultiMatch):
            return self._plan_multimatch(q, scored)
        if isinstance(q, MoreLikeThis):
            return self._plan_mlt(q, scored)
        if isinstance(q, MatchPhrasePrefix):
            return self._plan_phrase_prefix(q, scored)
        if isinstance(q, MatchBoolPrefix):
            return self._plan_match_bool_prefix(q, scored)
        if isinstance(q, SpanNear):
            terms, gaps = self._split_span_gaps(q.clauses, q.in_order)
            return self._plan_span_near(terms, q.slop, q.in_order, scored,
                                        gaps=gaps)
        if isinstance(q, SpanFirst):
            return self._plan_span_near(list(q.clauses), q.slop, True,
                                        scored, first_end=q.end)
        if isinstance(q, SpanOr):
            return self._plan_span_or(q, scored)
        if isinstance(q, FieldMaskingSpan):
            return self._plan_span_near([q], 0, True, scored)
        if isinstance(q, SpanNot):
            return self._plan_span_not(q, scored)
        if isinstance(q, SpanWithin):
            return self._plan_span_within(q, scored)
        if isinstance(q, SpanMulti):
            return self._plan_span_multi(q, scored)
        if isinstance(q, TermsSet):
            return self._plan_terms_set(q, scored)
        if isinstance(q, Intervals):
            if q.source is not None:
                return self._plan_intervals_source(q, scored)
            terms = [t for t, _ in
                     analyze(q.text, q.analyzer or self.ix.search_analyzer)]
            return self._plan_span_near(terms, q.max_gaps, q.ordered, scored)
        if isinstance(q, FunctionScore):
            return self._plan_function_score(q, scored)
        if isinstance(q, RankFeature):
            return self._plan_rank_feature(q, scored)
        if isinstance(q, DistanceFeature):
            return self._plan_distance_feature(q, scored)
        if isinstance(q, CommonTerms):
            return self._plan(self._rewrite_common_terms(q), scored)
        raise TypeError(f"unsupported query: {q!r}")

    def _plan_distance_feature(self, q: DistanceFeature, scored: bool) \
            -> DataFrame:
        """distance_feature: one column-pruned docs scan, the decay as a
        Catalyst expression (DistanceFeatureQueryBuilder.java)."""
        d = self.ix.docs
        col = F.col(q.field_name)
        if dict(d.dtypes).get(q.field_name) == "timestamp":
            val = F.unix_timestamp(col).cast("double")
            origin = F.unix_timestamp(F.lit(q.origin)).cast("double")
        else:
            val = col.cast("double")
            origin = F.lit(float(q.origin))
        pivot = _duration_seconds(q.pivot)
        s = F.lit(float(q.boost)) * pivot / (pivot + F.abs(val - origin))
        return (d.filter(col.isNotNull())
                .select("docid", (s if scored else F.lit(0.0))
                        .alias("score")))

    def _rewrite_common_terms(self, q: CommonTerms) -> Query:
        """Split the analyzed terms by df at cutoff_frequency and rewrite
        to the equivalent bool (CommonTermsQueryBuilder / Lucene
        CommonTermsQuery). The df values come from the reader's cached
        stats_for lookup — never a corpus scan."""
        terms = [t for t, _ in analyze(q.text, q.analyzer or
                                       self.ix.analyzer)]
        if not terms:
            return MatchNone()
        dfs = {t: v[0] for t, v in self.ix.stats_for(terms).items()}
        cut = (q.cutoff_frequency * self.ix.n_docs
               if q.cutoff_frequency < 1.0 else q.cutoff_frequency)
        low = [t for t in terms if dfs.get(t, 0) <= cut]
        high = [t for t in terms if dfs.get(t, 0) > cut]
        # analyzed tokens are fixed points of re-analysis for the
        # lowercase/standard chains; for stemming analyzers the rewritten
        # Match re-stems, so CommonTerms stores the original analyzer
        mk = lambda ts, op: Match(q.field_name, " ".join(ts), operator=op,
                                  analyzer=q.analyzer)
        if not low:
            return mk(high, q.high_freq_operator)
        if not high:
            return mk(low, q.low_freq_operator)
        return Bool(must=[mk(low, q.low_freq_operator)],
                    should=[mk(high, "or")])

    def _plan_rank_feature(self, q: RankFeature, scored: bool) -> DataFrame:
        """rank_feature: one column-pruned docs scan, the saturating
        function as a Catalyst expression
        (sv/index/query/RankFeatureQueryBuilder.java).

        A dotted name whose head is NOT a docs column addresses one key
        of a `rank_features` map field (RankFeaturesFieldMapper.java —
        sparse per-doc feature sets stored as map<string,float>):
        v = element_at(map, key), null for absent keys, so docs missing
        the feature don't match, same as the singular mapper."""
        name = q.field_name
        docs_cols = set(self.ix.docs.columns)
        if name not in docs_cols and "." in name:
            base, _, key = name.partition(".")
            v = F.element_at(F.col(base), F.lit(key)).cast("double")
        else:
            v = F.col(name).cast("double")
        if q.function == "saturation":
            s = v / (v + F.lit(float(q.pivot)))
        elif q.function == "log":
            s = F.log(F.lit(float(q.scaling_factor)) + v)
        elif q.function == "sigmoid":
            vp = F.pow(v, F.lit(float(q.exponent)))
            s = vp / (vp + F.lit(float(q.pivot) ** float(q.exponent)))
        elif q.function == "linear":
            s = v
        else:
            raise ValueError(f"unknown rank_feature function: {q.function}")
        out = self.ix.docs.filter(v.isNotNull())
        score = (s * float(q.boost)) if scored else F.lit(0.0)
        return out.select("docid", score.alias("score"))

    def _plan_multiterm(self, q: Query, scored: bool) -> DataFrame:
        """Dictionary-expansion queries (wildcard/regexp/fuzzy/prefix on the
        analyzed field): filter the term dictionary (stats), join postings
        on the matching terms (broadcast — the Zipf dictionary head is
        small), emit constant score 1.0 per matching doc — Lucene's
        CONSTANT_SCORE multi-term rewrite. Fully distributed: no driver-side
        term collection."""
        matched = self.ix.stats.select("term", "df") \
            .filter(self._multiterm_cond(q))
        if isinstance(q, Fuzzy):
            # FuzzyQuery caps its rewrite at max_expansions terms (highest
            # df first) — bounds the broadcast at dictionary scale
            matched = (matched
                       .orderBy(F.col("df").desc(), F.col("term").asc())
                       .limit(int(getattr(q, "max_expansions", 50) or 50)))
        matched = matched.select("term")
        docids = (self.ix.postings.join(F.broadcast(matched), "term")
                  .select("docid").distinct())
        return docids.select(
            "docid", F.lit(1.0 if scored else 0.0).alias("score"))

    def _multiterm_cond(self, q: Query) -> Column:
        """Dictionary predicate for a multi-term query, with cheap pruning
        before the expensive match: a literal prefix (chars before the
        first metacharacter) becomes a sargable startswith that parquet
        row-group min/max on the sorted term column can skip on; fuzzy
        gets the levenshtein length-band. The reference walks an FST
        automaton — these are the set-oriented equivalents of its
        prefix/length pruning."""
        if isinstance(q, Wildcard):
            like = q.pattern.replace("%", r"\%").replace("_", r"\_") \
                .replace("*", "%").replace("?", "_")
            cond = F.col("term").like(like)
            lit = _literal_prefix(q.pattern, "*?")
            if lit:
                cond = F.col("term").startswith(lit) & cond
        elif isinstance(q, Regexp):
            cond = F.col("term").rlike(f"^(?:{q.pattern})$")
            lit = _literal_prefix(q.pattern, ".?*+[](){}|\\^$")
            if lit:
                cond = F.col("term").startswith(lit) & cond
        elif isinstance(q, Fuzzy):
            n = self._fuzz_of(q.value, q.fuzziness)  # resolves "AUTO"
            band = ((F.length("term") >= len(q.value) - n)
                    & (F.length("term") <= len(q.value) + n))
            lev = F.levenshtein(F.col("term"), F.lit(q.value))
            if getattr(q, "transpositions", True):
                # Damerau: JVM lev<=2n prefilter, exact DL on survivors
                from sparksearch.fuzzydist import dl_dist_col
                cond = band & (lev <= 2 * n) & (
                    (lev <= n) | (dl_dist_col("term", F.lit(q.value)) <= n))
            else:
                cond = band & (lev <= n)
        else:  # TextPrefix
            cond = F.col("term").startswith(q.value)
        return cond

    def _plan_span_multi(self, q: SpanMulti, scored: bool) -> DataFrame:
        """span_multi: a multi-term query wrapped as a span
        (sv/index/query/SpanMultiTermQueryBuilder.java) — expand over the
        term dictionary (first `max_expansions` in term order, the
        reference's TopTermsSpanBooleanQueryRewrite cap), then union
        member positions exactly like span_or. The expansion collect is
        bounded by max_expansions."""
        rows = (self.ix.stats.select("term")
                .filter(self._multiterm_cond(q.match))
                .orderBy("term").limit(int(q.max_expansions)).collect())
        terms = [r["term"] for r in rows]
        if not terms:
            return self._empty()
        return self._plan_span_or(SpanOr(q.field_name, tuple(terms)),
                                  scored)

    def _plan_dismax(self, q: DisMax, scored: bool) -> DataFrame:
        legs = [self._plan(sq, scored) for sq in q.queries]
        if not legs:
            return self._empty()
        unioned = reduce(lambda a, b: a.unionAll(b), legs)
        agg = (unioned.groupBy("docid")
               .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm")))
        score = (F.col("_mx")
                 + F.lit(float(q.tie_breaker)) * (F.col("_sm") - F.col("_mx"))
                 if scored else F.lit(0.0))
        return agg.select("docid", score.alias("score"))

    def _plan_boosting(self, q: Boosting, scored: bool) -> DataFrame:
        pos = self._plan(q.positive, scored)
        neg = (self._plan(q.negative, scored=False)
               .select("docid", F.lit(True).alias("_neg")))
        out = pos.join(neg, "docid", "left")
        score = F.when(F.col("_neg"),
                       F.col("score") * float(q.negative_boost)) \
            .otherwise(F.col("score")) if scored else F.lit(0.0)
        return out.select("docid", score.alias("score"))

    def _plan_multimatch(self, q: MultiMatch, scored: bool) -> DataFrame:
        """best_fields = dis_max(tie_breaker), most_fields = score sum,
        cross_fields = term-centric max-across-fields then sum-over-terms,
        phrase = dis_max over per-field match_phrase
        (MultiMatchQuery.java). Analyzed field 'text' scores BM25; keyword
        doc-value fields score 1.0 on exact term (or, for phrase, whole
        value) equality."""
        if q.type == "cross_fields":
            return self._plan_multimatch_cross(q, scored)
        legs = []
        for f in q.fields:
            if f == "text":
                inner = (MatchPhrase("text", q.text) if q.type == "phrase"
                         else Match("text", q.text, operator=q.operator,
                                    minimum_should_match=
                                    q.minimum_should_match))
                legs.append(self._plan(inner, scored))
            else:
                legs.append(
                    self.ix.docs.filter(F.col(f) == F.lit(q.text))
                    .select("docid",
                            F.lit(1.0 if scored else 0.0).alias("score")))
        if not legs:
            return self._empty()
        if q.type == "most_fields":
            unioned = reduce(lambda a, b: a.unionAll(b), legs)
            return (unioned.groupBy("docid")
                    .agg(F.sum("score").alias("score")))
        return self._dismax_of(legs, q.tie_breaker, scored)

    def _plan_multimatch_cross(self, q: MultiMatch,
                               scored: bool) -> DataFrame:
        """cross_fields: per analyzed term, a doc's clause score is the MAX
        over fields that match it (text = BM25 posting score, keyword =
        1.0 on equality); clause scores sum and operator/msm count TERMS
        across all fields — 'one bool clause per term, fields blended
        inside' (MultiMatchQuery.java cross-fields execution)."""
        from collections import Counter
        terms = [t for t, _ in analyze(q.text, self.ix.search_analyzer)]
        if not terms:
            return self._empty()
        cnt = Counter(terms)
        uniq = sorted(cnt)
        if q.operator == "and":
            msm = len(terms)
        else:
            msm = calculate_min_should_match(
                len(terms), q.minimum_should_match, has_required=False)
        legs = []
        for f in q.fields:
            if f == "text":
                legs.append(self._term_scores(uniq, scored))
            else:
                legs.append(
                    self.ix.docs.filter(F.col(f).isin(uniq))
                    .select("docid", F.col(f).alias("term"),
                            F.lit(1.0 if scored else 0.0).alias("score")))
        unioned = reduce(lambda a, b: a.unionAll(b), legs)
        best = (unioned.groupBy("docid", "term")
                .agg(F.max("score").alias("score")))
        wmap = F.create_map(*[x for t, c in cnt.items()
                              for x in (F.lit(t), F.lit(float(c)))])
        w = F.element_at(wmap, F.col("term"))
        agg = (best.groupBy("docid")
               .agg(F.sum(F.col("score") * w).alias("score"),
                    F.sum(w).cast("int").alias("_n")))
        if msm > 1:
            agg = agg.filter(F.col("_n") >= msm)
        return agg.select("docid", "score")

    def _dismax_of(self, legs: list[DataFrame], tie: float,
                   scored: bool) -> DataFrame:
        unioned = reduce(lambda a, b: a.unionAll(b), legs)
        agg = (unioned.groupBy("docid")
               .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm")))
        score = (F.col("_mx") + F.lit(float(tie))
                 * (F.col("_sm") - F.col("_mx"))) if scored else F.lit(0.0)
        return agg.select("docid", score.alias("score"))

    def _plan_mlt(self, q: MoreLikeThis, scored: bool) -> DataFrame:
        """more_like_this: rank the example's terms by tf·idf
        (driver-side — stats for a handful of terms), keep the top
        max_query_terms, then an ordinary OR match with msm.

        Doc-reference form (like_ids): the liked docs' SOURCE text is
        fetched from source_pages (a broadcast join against the handful
        of liked docids — never a corpus scan) and re-analyzed, the
        reference's path when term vectors aren't stored
        (sv/index/query/MoreLikeThisQueryBuilder.java; TermVectorsService
        generates from _source); with include=false (the default) the
        liked docs are excluded from the hits."""
        from collections import Counter
        like_ids = [int(i) for i in getattr(q, "like_ids", ()) or ()]
        if like_ids:
            if self.source_pages is None:
                raise ValueError(
                    "more_like_this doc form needs "
                    "Executor(source_pages=<(url, text) frame>)")
            liked = (self.ix.docs
                     .filter(F.col("docid").isin(like_ids))
                     .select("url"))
            rows = (self.source_pages.select("url", "text")
                    .join(F.broadcast(liked), "url")
                    .select("text").collect())
            text = " ".join(r["text"] or "" for r in rows)
        else:
            text = q.like_text
        terms = [t for t, _ in analyze(text, self.ix.analyzer)]
        if not terms:
            return self._empty()
        cnt = Counter(terms)
        min_tf = int(getattr(q, "min_term_freq", 1) or 1)
        cnt = Counter({t: c for t, c in cnt.items() if c >= min_tf})
        if not cnt:
            return self._empty()
        dfm = {t: v[0] for t, v in self.ix.stats_for(list(cnt)).items()}
        ranked = sorted(
            ((t, c * bm25.idf(dfm.get(t, 0), self.ix.n_docs))
             for t, c in cnt.items()
             if dfm.get(t, 0) >= q.min_doc_freq),
            key=lambda x: (-x[1], x[0]))
        selected = [t for t, _ in ranked[:q.max_query_terms]]
        if not selected:
            return self._empty()
        out = self._plan(
            Match(q.field_name, " ".join(selected),
                  minimum_should_match=q.minimum_should_match), scored)
        if like_ids and not getattr(q, "include", False):
            out = out.filter(~F.col("docid").isin(like_ids))
        return out

    def _empty(self) -> DataFrame:
        return (self.ix.docs.select("docid", F.lit(0.0).alias("score"))
                .limit(0))

    def _term_scores(self, terms: list[str], scored: bool) -> DataFrame:
        """(docid, term, score) for every posting of the given terms,
        scored by the executor's similarity: BM25 through the kernel's
        row value, any other similarity through its score_expr over
        literal-map df/cf columns from the reader's stats_for dict.
        Filter context (scored=False) needs no statistics."""
        from sparksearch.similarity import BM25Similarity
        tw = self._twindow[-1] if self._twindow else None
        if not scored:
            return (self.ix.postings_for(terms, time_window=tw)
                    .select("docid", "term", F.lit(0.0).alias("score")))
        stats = self.ix.stats_for(terms)
        p = self.ix.postings_for(sorted(stats), time_window=tw)
        if isinstance(self.sim, BM25Similarity):
            score = _bm25_scores(stats, self.ix.n_docs, self.ix.avgdl,
                                 self.sim.k1, self.sim.b)
            return p.select("docid", "term", score.alias("score"))
        p = p.select(
            "docid", "term", "tf", "dl_q",
            _term_lookup({t: v[0] for t, v in stats.items()})
            .cast("long").alias("df"),
            _term_lookup({t: v[1] for t, v in stats.items()})
            .cast("long").alias("cf"))
        score = self.sim.score_expr(
            F.col("tf"), F.col("dl_q"), self.ix.n_docs,
            self.ix.avgdl, int(self.ix.meta["total_tf"]))
        return p.select("docid", "term", score.alias("score"))

    def _tfn(self, tf: Column, dl_q: Column) -> Column:
        """The kernel's tfn under the executor similarity's k1/b —
        positional/expanded paths that score pseudo-terms call
        _require_bm25 first, so `self.sim` is a BM25Similarity here."""
        return bm25.tfn(tf.cast("double"), dl_q.cast("double"),
                        float(self.ix.avgdl), self.sim.k1, self.sim.b)

    def _require_bm25(self, feature: str) -> None:
        from sparksearch.similarity import BM25Similarity
        if not isinstance(self.sim, BM25Similarity):
            raise NotImplementedError(
                f"{feature} scoring under the "
                f"{self.sim.to_config()['type']} similarity is not "
                "implemented — positional/pseudo-term paths are BM25-only")

    def _plan_match(self, q: Match, scored: bool) -> DataFrame:
        if q.fuzziness is not None:
            return self._plan_match_fuzzy(q, scored)
        toks = analyze(q.text, q.analyzer or self.ix.search_analyzer)
        terms = [t for t, _ in toks]
        if not terms:
            return self._empty()  # zero_terms_query NONE
        if len({p for _, p in toks}) != len(toks):
            # the query analyzer emitted stacked tokens (synonym filter,
            # posIncrement 0) — each position becomes a blended
            # SynonymQuery, not independent term clauses
            return self._plan_match_blended(q, toks, scored)
        # a term appearing w times in the query text yields w SHOULD clauses
        # in the reference → weight both score and clause count by w
        from collections import Counter
        cnt = Counter(terms)
        if q.operator == "and":
            msm = len(terms)
        else:
            msm = calculate_min_should_match(
                len(terms), q.minimum_should_match, has_required=False)
        agg = _combine(self._term_scores(sorted(cnt), scored), [cnt])
        if msm > 1:
            agg = agg.filter(F.col("_n0") >= msm)
        return agg.select("docid", F.col("_s0").alias("score"))

    def _plan_match_blended(self, q: Match, toks, scored: bool) -> DataFrame:
        """Match over a token stream with stacked (same-position) tokens —
        the synonym filter's posIncrement-0 output. Each position becomes
        one Lucene SynonymQuery clause: the group's members are scored as
        ONE pseudo-term with tf = Σ member tfs and docFreq = max member df
        (MatchQuery.java newSynonymQuery / Lucene SynonymQuery.createWeight
        blended statistics).

        Plan shape: ONE postings scan over the union of member terms, one
        groupBy(docid) with a conditional-sum column per position group; the
        blended weight per group is a driver-side literal from the reader's
        cached stats_for lookup — never a corpus scan. Groups combine like
        terms: bm25.combine in sorted-group order, weighted by how many
        positions hold the group."""
        from collections import Counter

        self._require_bm25("synonym-blended match")

        bypos: dict[int, list[str]] = {}
        for t, p in toks:
            g = bypos.setdefault(p, [])
            if t not in g:
                g.append(t)
        groups = Counter(tuple(sorted(g)) for g in bypos.values())
        n_pos = sum(groups.values())
        all_terms = sorted({t for g in groups for t in g})
        dfs = {t: v[0] for t, v in self.ix.stats_for(all_terms).items()}

        p = self.ix.postings_for(all_terms) \
            .select("term", "docid", "tf", "dl_q")
        gcol = {g: f"_g{j}" for j, g in enumerate(sorted(groups))}
        aggs = [F.max("dl_q").alias("_dlq")]
        for g, c in gcol.items():
            aggs.append(F.sum(F.when(F.col("term").isin(list(g)),
                                     F.col("tf")).otherwise(F.lit(0)))
                        .alias(c))
        agg = p.groupBy("docid").agg(*aggs)

        def group_score(g) -> Column:
            # 0.0 for a doc without the group (tfn(0) is 0/0 at k1 = 0)
            bdf = max(dfs.get(t, 0) for t in g)
            gw = bm25.weight(bdf, self.ix.n_docs, self.sim.k1) \
                if bdf > 0 else 0.0
            gtf = F.col(gcol[g])
            return F.when(gtf > 0, F.lit(gw) * self._tfn(gtf, F.col("_dlq"))
                          ).otherwise(F.lit(0.0))

        score = F.lit(0.0)
        if scored:
            for g in sorted(groups):
                score = bm25.step(score, groups[g], group_score(g))
        nmatch = reduce(lambda a, c: a + c, [
            F.when(F.col(c) > 0, F.lit(int(groups[g]))).otherwise(F.lit(0))
            for g, c in gcol.items()])
        if q.operator == "and":
            msm = n_pos
        else:
            msm = calculate_min_should_match(
                n_pos, q.minimum_should_match, has_required=False)
        out = agg.select("docid", score.alias("score"),
                         nmatch.alias("_n"))
        if msm > 1:
            out = out.filter(F.col("_n") >= msm)
        return out.select("docid", "score")

    def _plan_phrase(self, q: MatchPhrase, scored: bool) -> DataFrame:
        ptoks = analyze(q.text, q.analyzer or self.ix.search_analyzer)
        terms = [t for t, _ in ptoks]
        if not terms:
            return self._empty()
        if len({p for _, p in ptoks}) != len(ptoks):
            # stacked (synonym) tokens → MultiPhraseQuery: each position
            # slot accepts any of its members (MatchQuery.java phrase path
            # building MultiPhraseQuery for posIncrement-0 streams)
            if q.slop > 0:
                raise NotImplementedError(
                    "sloppy multi-phrase (slop > 0 over synonym-stacked "
                    "tokens) is not supported")
            return self._plan_multi_phrase(ptoks, q, scored)
        if len(terms) == 1:
            return self._plan_match(
                Match(q.field_name, q.text, analyzer=q.analyzer), scored)
        joined = (self._phrase_freq_sloppy(terms, q.slop) if q.slop > 0
                  else self._phrase_freq_exact(terms))
        return self._phrase_score(joined, terms, scored)

    def _phrase_freq_exact(self, terms: list[str]) -> DataFrame:
        """(docid, dl_q, pf) for an exact (slop 0) phrase — shared by
        scoring and `_explain` (fetchops.explain_many).
        n-way docid join of the member terms' postings; phrase frequency =
        |pos_0 ∩ (pos_1 - 1) ∩ ... ∩ (pos_i - i)| — built-in array ops
        only."""
        uniq = sorted(set(terms))
        p = self.ix.postings_for(uniq).select("term", "docid", "positions", "dl_q")
        def shift_by(i: int):
            # single-arg lambda only: a two-arg lambda would make Spark bind
            # the second parameter to the array element index
            return lambda x: x - F.lit(i)

        legs = []
        for i, t in enumerate(terms):
            leg = (p.filter(F.col("term") == t)
                    .select(F.col("docid"),
                            (F.transform(F.col("positions"), shift_by(i))
                             if i else F.col("positions")).alias(f"pos{i}"),
                            *( [F.col("dl_q")] if i == 0 else [] )))
            legs.append(leg)
        joined = reduce(lambda a, b: a.join(b, "docid"), legs)
        pf = reduce(lambda acc, i: F.array_intersect(acc, F.col(f"pos{i}")),
                    range(1, len(terms)), F.col("pos0"))
        return joined.select("docid", "dl_q",
                             F.size(pf).cast("double").alias("pf")) \
                     .filter(F.col("pf") > 0)

    def _plan_multi_phrase(self, ptoks, q: MatchPhrase,
                           scored: bool) -> DataFrame:
        """Exact MultiPhraseQuery: position slot i matches any of its
        member terms; phrase positions = ∩ over slots of the UNION of the
        slot members' (shifted) positions. One postings scan; per-slot
        groupBy(docid) unions member position arrays; scored as the phrase
        pseudo-term with idf = Σ idfs over every member term (Lucene
        MultiPhraseQuery passes all TermStatistics to the similarity)."""
        slots: list[list[str]] = []
        seen_pos: dict[int, list[str]] = {}
        for t, pos in ptoks:
            g = seen_pos.get(pos)
            if g is None:
                g = seen_pos[pos] = []
                slots.append(g)
            if t not in g:
                g.append(t)
        if len(slots) == 1:
            # one stacked position — Lucene builds a SynonymQuery instead
            return self._plan_match(
                Match(q.field_name, q.text, analyzer=q.analyzer), scored)
        all_terms = sorted({t for g in slots for t in g})
        p = self.ix.postings_for(all_terms) \
            .select("term", "docid", "positions", "dl_q")

        def shift_by(i: int):
            return lambda x: x - F.lit(i)

        legs = []
        for i, members in enumerate(slots):
            union = F.array_distinct(
                F.flatten(F.collect_list("positions")))
            leg = (p.filter(F.col("term").isin(members))
                    .groupBy("docid")
                    .agg(*([union.alias("_u"), F.max("dl_q").alias("dl_q")]
                           if i == 0 else [union.alias("_u")]))
                    .select("docid",
                            (F.transform(F.col("_u"), shift_by(i))
                             if i else F.col("_u")).alias(f"pos{i}"),
                            *(["dl_q"] if i == 0 else [])))
            legs.append(leg)
        joined = reduce(lambda a, b: a.join(b, "docid"), legs)
        pf = reduce(lambda acc, i: F.array_intersect(acc, F.col(f"pos{i}")),
                    range(1, len(slots)), F.col("pos0"))
        joined = joined.select("docid", "dl_q",
                               F.size(pf).cast("double").alias("pf")) \
                       .filter(F.col("pf") > 0)
        flat = [t for g in slots for t in g]
        return self._phrase_score(joined, flat, scored)

    def _phrase_freq_sloppy(self, terms: list[str],
                            slop: int) -> DataFrame:
        """(docid, dl_q, pf) for a sloppy phrase — shared by scoring and
        `_explain`.  Anchor at each position p0 of terms[0];
        per later term i, displacement d_i = min over its positions of
        |p_i − (p0+i)| via array_min/transform (JVM higher-order fns, no
        explode of non-anchor legs); anchors with Σd_i ≤ slop contribute
        sloppy weight 1/(1+Σd_i) to the phrase frequency — Lucene's
        sloppyFreq rule over the displacement-sum distance
        (sv/index/search/MatchQuery.java:171; slop=2 admits a transposition
        exactly as Lucene's two-term matcher does)."""
        uniq = sorted(set(terms))
        p = self.ix.postings_for(uniq).select("term", "docid", "positions",
                                              "dl_q")
        cur = (p.filter(F.col("term") == terms[0])
                .select("docid", "dl_q",
                        F.explode("positions").alias("_p0")))
        dcols = []
        for i, t in enumerate(terms[1:], start=1):
            leg = (p.filter(F.col("term") == t)
                    .select("docid", F.col("positions").alias(f"_ps{i}")))
            cur = cur.join(leg, "docid")

            def dist_to_slot(i=i):
                return lambda x: F.abs(x - (F.col("_p0") + F.lit(i)))

            cur = (cur.withColumn(
                        f"_d{i}",
                        F.array_min(F.transform(F.col(f"_ps{i}"),
                                                dist_to_slot())))
                      .drop(f"_ps{i}"))
            dcols.append(F.col(f"_d{i}"))
        d_total = reduce(lambda a, b: a + b, dcols)
        matched = (cur.withColumn("_d", d_total.cast("double"))
                      .filter(F.col("_d") <= float(slop)))
        return (matched.groupBy("docid", "dl_q")
                .agg(F.sum(F.lit(1.0) / (F.lit(1.0) + F.col("_d")))
                     .alias("pf"))
                .select("docid", "dl_q", "pf"))

    def _phrase_score(self, joined: DataFrame, terms: list[str],
                      scored: bool) -> DataFrame:
        """Pseudo-term scoring shared by exact + sloppy phrase:
        idf = Σ member idfs (duplicates counted per occurrence),
        tf = (sloppy) phrase frequency."""
        if not scored:
            return joined.select("docid", F.lit(0.0).alias("score"))
        self._require_bm25("phrase/span pseudo-term")
        score = F.lit(self._phrase_weight(terms)) \
            * self._tfn(F.col("pf"), F.col("dl_q"))
        return joined.select("docid", score.alias("score"))

    def _phrase_weight(self, terms: list[str]) -> float:
        """The kernel's phrase weight over the member terms the index
        holds (an absent member matches no doc)."""
        stats = self.ix.stats_for(terms)
        return bm25.phrase_weight(
            [stats[t][0] for t in sorted(terms) if t in stats],
            self.ix.n_docs, self.sim.k1)

    @staticmethod
    def _fuzz_of(term: str, spec) -> int:
        """Fuzziness.AUTO ladder: <3 chars → 0 edits, 3-5 → 1, >5 → 2
        (sv/common/unit/Fuzziness.java); ints pass through."""
        if isinstance(spec, int):
            return spec
        n = len(term)
        return 0 if n < 3 else (1 if n <= 5 else 2)

    def _plan_match_fuzzy(self, q: Match, scored: bool) -> DataFrame:
        """match with fuzziness: each query term expands over the term
        dictionary (length-band pruned edit distance — the Spark analogue
        of FuzzyTermsEnum's automaton walk, MatchQuery.java:291-342); per
        doc, a clause scores the MAX over its matched expansions' BM25
        scores (top_terms_blended rewrite approximated with per-expansion
        idf); minimum_should_match counts clauses as usual.

        fuzzy_transpositions=True (reference default) uses unrestricted
        Damerau-Levenshtein: JVM prefilter levenshtein<=2f + length band
        (never drops a true match: DL<=f => lev<=2f), then exact DL via an
        Arrow-batched UDF on the pruned candidates (sparksearch.fuzzydist).

        The per-term expansion set is capped at the `max_expansions`
        highest-df candidates (df desc, term asc — Lucene's FuzzyQuery
        defaultMaxExpansions=50 via TopTermsBlendedFreqScoringRewrite), so
        the driver-side pair collect is bounded by |query terms| * cap even
        against a 10^9-term dictionary."""
        terms = [t for t, _ in
                 analyze(q.text, q.analyzer or self.ix.search_analyzer)]
        if not terms:
            return self._empty()
        from collections import Counter
        cnt = Counter(terms)
        uniq = sorted(cnt)
        if q.operator == "and":
            msm = len(terms)
        else:
            msm = calculate_min_should_match(
                len(terms), q.minimum_should_match, has_required=False)
        spark = self.ix.spark
        qdf = literal_frame(spark, ["qt", "fz"], [
            (t, self._fuzz_of(t, q.fuzziness)) for t in uniq])
        transpose = bool(getattr(q, "fuzzy_transpositions", True))
        max_exp = int(getattr(q, "max_expansions", 50) or 50)
        d = self.ix.stats.select("term", "df")
        band = ((F.length("term") >= F.length("qt") - F.col("fz"))
                & (F.length("term") <= F.length("qt") + F.col("fz")))
        lev = F.levenshtein(F.col("term"), F.col("qt"))
        cond = band & (lev <= (F.col("fz") * 2 if transpose else F.col("fz")))
        cand = d.join(F.broadcast(qdf), cond)
        if transpose:
            from sparksearch.fuzzydist import dl_dist_col
            # exact-match fast path stays JVM-side; the UDF only sees
            # candidates that need the transposition-aware distance
            cand = cand.filter(
                (lev <= F.col("fz"))
                | (dl_dist_col("term", "qt") <= F.col("fz")))
        w = Window.partitionBy("qt").orderBy(F.col("df").desc(),
                                             F.col("term").asc())
        pair_rows = (cand.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") <= max_exp)
                     .select("qt", "term").collect())
        if not pair_rows:
            return self._empty()
        exp_terms = sorted({r["term"] for r in pair_rows})
        per = self._term_scores(exp_terms, scored)
        pairs = F.broadcast(literal_frame(
            spark, ["qt", "term"], [(r["qt"], r["term"]) for r in pair_rows]))
        perq = (per.join(pairs, "term")
                .groupBy("docid", F.col("qt").alias("term"))
                .agg(F.max("score").alias("score")))
        agg = _combine(perq, [cnt])
        if msm > 1:
            agg = agg.filter(F.col("_n0") >= msm)
        return agg.select("docid", F.col("_s0").alias("score"))

    def _plan_phrase_prefix(self, q: MatchPhrasePrefix,
                            scored: bool) -> DataFrame:
        """match_phrase_prefix: exact positional anchors for all but the
        last term; the last slot accepts any of the first `max_expansions`
        dictionary terms (term order) carrying the prefix — the reference's
        MultiPhraseQuery over the expanded set (MatchQuery.java phrase_prefix
        path). Scored as a pseudo-term: idf = Σ idfs of the exact members,
        tf = number of anchor positions with a valid full match."""
        terms = [t for t, _ in
                 analyze(q.text, q.analyzer or self.ix.search_analyzer)]
        if not terms:
            return self._empty()
        prefix = terms[-1]
        exact = terms[:-1]
        if not exact:
            return self._plan_multiterm(TextPrefix(q.field_name, prefix),
                                        scored)
        exp_rows = (self.ix.stats.select("term")
                    .filter(F.col("term").startswith(prefix))
                    .orderBy("term").limit(q.max_expansions).collect())
        expansions = [r["term"] for r in exp_rows]
        if not expansions:
            return self._empty()
        n = len(exact)
        uniq = sorted(set(exact))
        p = self.ix.postings_for(sorted(set(uniq + expansions))) \
            .select("term", "docid", "positions", "dl_q")
        cur = (p.filter(F.col("term") == exact[0])
                .select("docid", "dl_q", F.explode("positions").alias("_p0")))
        for i, t in enumerate(exact[1:], start=1):
            leg = (p.filter(F.col("term") == t)
                    .select("docid", F.col("positions").alias(f"_ps{i}")))
            cur = (cur.join(leg, "docid")
                   .filter(F.array_contains(F.col(f"_ps{i}"),
                                            F.col("_p0") + F.lit(i)))
                   .drop(f"_ps{i}"))
        last = (p.filter(F.col("term").isin(expansions))
                .select("docid", F.col("positions").alias("_psL")))
        cur = (cur.join(last, "docid")
               .filter(F.array_contains(F.col("_psL"),
                                        F.col("_p0") + F.lit(n)))
               .drop("_psL"))
        joined = (cur.groupBy("docid", "dl_q")
                  .agg(F.countDistinct("_p0").cast("double").alias("pf")))
        return self._phrase_score(joined, exact, scored)

    def _plan_match_bool_prefix(self, q: MatchBoolPrefix,
                                scored: bool) -> DataFrame:
        """match_bool_prefix: BM25 term clauses for all analyzed terms but
        the last + a constant-score-1.0 prefix clause for the last
        (MatchBoolPrefixQueryBuilder — bool of term queries plus a prefix
        query under the constant-score multi-term rewrite). Clause counting
        for operator/minimum_should_match includes the prefix clause. One
        postings scan for the term clauses; the prefix leg reuses the
        dictionary-pruned multiterm plan."""
        terms = [t for t, _ in
                 analyze(q.text, q.analyzer or self.ix.search_analyzer)]
        if not terms:
            return self._empty()
        prefix, exact = terms[-1], terms[:-1]
        if not exact:
            return self._plan_multiterm(TextPrefix(q.field_name, prefix),
                                        scored)
        from collections import Counter
        cnt = Counter(exact)
        per = self._term_scores(sorted(cnt), scored)
        wmap = F.create_map(*[x for t, c in cnt.items()
                              for x in (F.lit(t), F.lit(float(c)))])
        legs = per.select("docid", (F.col("score")
                                    * F.element_at(wmap, F.col("term")))
                          .alias("score"),
                          F.element_at(wmap, F.col("term")).alias("_w"))
        pre = (self._plan_multiterm(TextPrefix(q.field_name, prefix), scored)
               .select("docid", "score", F.lit(1.0).alias("_w")))
        n_clauses = len(terms)
        if q.operator == "and":
            msm = n_clauses
        else:
            msm = calculate_min_should_match(
                n_clauses, q.minimum_should_match, has_required=False)
        agg = (legs.unionByName(pre).groupBy("docid")
               .agg(F.sum("score").alias("score"),
                    F.sum("_w").cast("int").alias("_n")))
        if msm > 1:
            agg = agg.filter(F.col("_n") >= msm)
        return agg.select("docid", "score")

    @staticmethod
    def _split_span_gaps(clauses, in_order: bool):
        """Collapse SpanGap pseudo-clauses into per-term leading offsets:
        gaps[i] = total gap width between real term i-1 and term i."""
        from sparksearch.queries import SpanGap
        terms: list = []
        gaps: list[int] = []
        pending = 0
        for c in clauses:
            if isinstance(c, SpanGap):
                if not in_order:
                    raise ValueError("span_gap requires in_order=true "
                                     "(SpanNearQuery gap semantics)")
                pending += int(c.width)
            else:
                terms.append(c)
                gaps.append(pending)
                pending = 0
        if pending:
            raise ValueError("span_gap may not be the final clause")
        if not any(gaps):
            return terms, None
        return terms, gaps

    def _plan_span_near(self, terms: list[str], slop: int, in_order: bool,
                        scored: bool,
                        first_end: int | None = None,
                        gaps: list[int] | None = None) -> DataFrame:
        """span_near / intervals positional engine: one position per clause,
        all clauses within a window of width (max−min)−(n−1) ≤ slop,
        ordered when in_order (span registrations
        sv/search/SearchModule.java:1140-1156,
        sv/index/query/IntervalQueryBuilder.java). tf = distinct anchors
        (first clause's position if ordered, window min otherwise), scored
        as a pseudo-term like phrase."""
        from sparksearch.queries import FieldMaskingSpan
        terms = [t for t in terms if t]
        if not terms:
            return self._empty()
        # resolve each clause slot to its admissible term set: a plain
        # term is a singleton; a field_masking_span clause expands to the
        # base-dictionary terms whose sub-field normalization equals its
        # term (one vectorized dictionary scan, collects only survivors)
        slots: list[list[str]] = []
        for t in terms:
            if isinstance(t, FieldMaskingSpan):
                exp = self._expand_masked(t)
                if not exp:
                    return self._empty()
                slots.append(exp)
            else:
                slots.append([t])
        flat = [m for s2 in slots for m in s2]
        if len(slots) == 1:
            if len(slots[0]) > 1 and first_end is None:
                return self._plan_span_or(
                    SpanOr("text", tuple(slots[0])), scored)
            members = slots[0]
            if first_end is not None:
                # span_first over a single slot: positions within the
                # first `end` slots, pf = their count
                pos = (self.ix.postings_for(members)
                       .filter(F.col("term").isin(members))
                       .select("docid", "dl_q",
                               F.explode("positions").alias("_p"))
                       .filter(F.col("_p") < first_end))
                joined = (pos.groupBy("docid", "dl_q")
                          .agg(F.countDistinct("_p").cast("double")
                               .alias("pf")))
                return self._phrase_score(joined, members, scored)
            per = self._term_scores(members, scored)
            return per.select("docid", "score")
        uniq = sorted(set(flat))
        p = self.ix.postings_for(uniq).select("term", "docid", "positions",
                                              "dl_q")
        legs = []
        for i, members in enumerate(slots):
            lp = (p.filter(F.col("term") == members[0])
                  if len(members) == 1
                  else p.filter(F.col("term").isin(members)))
            legs.append(
                lp.select("docid", F.explode("positions").alias(f"_p{i}"),
                          *(["dl_q"] if i == 0 else [])))
        cur = legs[0]
        for i in range(1, len(slots)):
            cur = cur.join(legs[i], "docid")
            if in_order:
                # a span_gap between adjacent clauses consumes `gaps[i]`
                # extra positions: p_i must leave room for the gap tokens
                off = gaps[i] if gaps else 0
                cur = cur.filter(F.col(f"_p{i}") > F.col(f"_p{i-1}") + off)
            else:
                # distinct positions (repeated clause terms may not reuse
                # one token)
                cur = cur.filter(reduce(
                    lambda a, b: a & b,
                    [F.col(f"_p{i}") != F.col(f"_p{j}") for j in range(i)]))
        pcols = [F.col(f"_p{i}") for i in range(len(slots))]
        # gap tokens count as matched span length, not slop
        total_gap = sum(gaps) if gaps else 0
        width = (F.greatest(*pcols) - F.least(*pcols)
                 - F.lit(len(slots) - 1 + total_gap))
        cur = cur.filter(width <= slop)
        if first_end is not None:
            # span_first: the span's END (max member position + 1) must be
            # ≤ end ⇔ max position < end (SpanFirstQueryBuilder)
            cur = cur.filter(F.greatest(*pcols) < first_end)
        anchor = F.col("_p0") if in_order else F.least(*pcols)
        joined = (cur.groupBy("docid", "dl_q")
                  .agg(F.countDistinct(anchor).cast("double").alias("pf")))
        return self._phrase_score(joined, flat, scored)

    def _plan_intervals_source(self, q, scored: bool) -> DataFrame:
        """intervals with a full IntervalsSourceProvider tree (any_of /
        all_of / match / prefix — IntervalQueryBuilder.java). Each source
        evaluates to an interval frame (docid, s, e, dl_q); any_of unions
        frames, all_of joins them per doc with the ordering/gap rule.
        Assignment semantics (see queries.Intervals). Scored as a
        pseudo-term: pf = distinct combined-interval starts, idf = Σ leaf
        term idfs (prefix leaves contribute their expansion members)."""
        fr, leaf_terms = self._intervals_frame(q.source)
        if fr is None or not leaf_terms:
            return self._empty()
        joined = (fr.groupBy("docid", "dl_q")
                  .agg(F.countDistinct("s").cast("double").alias("pf")))
        return self._phrase_score(joined, leaf_terms, scored)

    def _intervals_frame(self, src):
        """Recursively evaluate an interval source to
        (frame[docid, s, e, dl_q], leaf_terms). None frame = match-none."""
        from sparksearch.queries import (IntervalsAllOf, IntervalsAnyOf,
                                         IntervalsFiltered, IntervalsMatch,
                                         IntervalsPrefix)
        if isinstance(src, IntervalsFiltered):
            f, terms = self._intervals_frame(src.source)
            if f is None:
                return None, []
            g, _ = self._intervals_frame(src.filter_source)
            neg = src.kind.startswith("not_")
            base = src.kind[4:] if neg else src.kind
            if g is None:
                # empty filter side: positive relations match nothing,
                # negated ones are vacuously true
                return (f, terms) if neg else (None, [])
            gg = g.select(F.col("docid").alias("_fd"),
                          F.col("s").alias("_fs"),
                          F.col("e").alias("_fe"))
            i_s, i_e = F.col("s"), F.col("e")
            conds = {
                "containing": (i_s <= F.col("_fs"))
                              & (F.col("_fe") <= i_e),
                "contained_by": (F.col("_fs") <= i_s)
                                & (i_e <= F.col("_fe")),
                "overlapping": (i_s <= F.col("_fe"))
                               & (F.col("_fs") <= i_e),
                "before": i_e < F.col("_fs"),
                "after": i_s > F.col("_fe"),
            }
            if base not in conds:
                raise ValueError(f"intervals filter {src.kind!r}")
            cond = (F.col("docid") == F.col("_fd")) & conds[base]
            kept = f.join(gg, cond, "left_anti" if neg else "left_semi")
            return kept, terms
        if isinstance(src, IntervalsMatch):
            terms = [t for t, _ in
                     analyze(src.text, src.analyzer or self.ix.search_analyzer)]
            return self._ivl_match_frame(terms, src.max_gaps,
                                         src.ordered), terms
        if isinstance(src, IntervalsPrefix):
            exp = [r["term"] for r in
                   (self.ix.stats.select("term")
                    .where(F.col("term").startswith(src.prefix))
                    .orderBy("term").limit(int(src.max_expansions))
                    .collect())]
            if not exp:
                return None, []
            pos = (self.ix.postings_for(exp)
                   .select("docid", "dl_q",
                           F.explode("positions").alias("_p")))
            return (pos.select("docid", F.col("_p").alias("s"),
                               F.col("_p").alias("e"), "dl_q")
                    .distinct()), exp
        if isinstance(src, IntervalsAnyOf):
            frames, terms = [], []
            for sub in src.sources:
                f2, t2 = self._intervals_frame(sub)
                if f2 is not None:
                    frames.append(f2)
                    terms.extend(t2)
            if not frames:
                return None, []
            return reduce(lambda a, b: a.unionByName(b),
                          frames).distinct(), terms
        if isinstance(src, IntervalsAllOf):
            parts, terms = [], []
            for sub in src.sources:
                f2, t2 = self._intervals_frame(sub)
                if f2 is None:
                    return None, []
                parts.append(f2)
                terms.extend(t2)
            cur = parts[0].select(
                "docid", "dl_q", F.col("s").alias("_s0"),
                F.col("e").alias("_e0"))
            for i in range(1, len(parts)):
                ri = parts[i].select(
                    "docid", F.col("s").alias(f"_s{i}"),
                    F.col("e").alias(f"_e{i}"))
                cur = cur.join(ri, "docid")
                if src.ordered:
                    cur = cur.filter(F.col(f"_s{i}") > F.col(f"_e{i-1}"))
            n = len(parts)
            scols = [F.col(f"_s{i}") for i in range(n)]
            ecols = [F.col(f"_e{i}") for i in range(n)]
            lo = scols[0] if n == 1 else F.least(*scols)
            hi = ecols[0] if n == 1 else F.greatest(*ecols)
            if int(src.max_gaps) >= 0:
                covered = reduce(
                    lambda a, b: a + b,
                    [ecols[i] - scols[i] + 1 for i in range(n)])
                cur = cur.filter((hi - lo + 1) - covered
                                 <= int(src.max_gaps))
            return (cur.select("docid", lo.alias("s"), hi.alias("e"),
                               "dl_q").distinct()), terms
        raise TypeError(f"unknown interval source: {src!r}")

    def _ivl_match_frame(self, terms: list, max_gaps: int, ordered: bool):
        """Interval frame of a `match` source: every admissible
        assignment's (min pos, max pos)."""
        terms = [t for t in terms if t]
        if not terms:
            return None
        uniq = sorted(set(terms))
        p = self.ix.postings_for(uniq).select("term", "docid", "positions",
                                              "dl_q")
        if len(terms) == 1:
            pos = (p.filter(F.col("term") == terms[0])
                   .select("docid", "dl_q",
                           F.explode("positions").alias("_p")))
            return (pos.select("docid", F.col("_p").alias("s"),
                               F.col("_p").alias("e"), "dl_q").distinct())
        legs = []
        for i, t in enumerate(terms):
            legs.append(
                p.filter(F.col("term") == t)
                 .select("docid", F.explode("positions").alias(f"_p{i}"),
                         *(["dl_q"] if i == 0 else [])))
        cur = legs[0]
        for i in range(1, len(terms)):
            cur = cur.join(legs[i], "docid")
            if ordered:
                cur = cur.filter(F.col(f"_p{i}") > F.col(f"_p{i-1}"))
            else:
                cur = cur.filter(reduce(
                    lambda a, b: a & b,
                    [F.col(f"_p{i}") != F.col(f"_p{j}")
                     for j in range(i)]))
        pcols = [F.col(f"_p{i}") for i in range(len(terms))]
        lo, hi = F.least(*pcols), F.greatest(*pcols)
        if int(max_gaps) >= 0:
            cur = cur.filter(hi - lo - F.lit(len(terms) - 1)
                             <= int(max_gaps))
        return cur.select("docid", lo.alias("s"), hi.alias("e"),
                          "dl_q").distinct()

    def _expand_masked(self, m) -> list[str]:
        """field_masking_span expansion: base-dictionary terms whose
        sub-field filter chain output equals m.term. One Arrow-batched
        scan over the term-stats DIMENSION table (never the postings
        fact table); only the surviving surface forms — bounded by the
        conflation class size — reach the driver."""
        from sparksearch.analysis_custom import _TOKEN_FILTERS, _resolve
        fns = [_resolve(f, _TOKEN_FILTERS, {}, "filter")
               for f in m.filters]

        def norm(t):
            toks = [(t, 0)]
            for f in fns:
                toks = f(toks)
            return toks[0][0] if toks else None

        target = m.term

        def _flt(batches):
            for pdf in batches:
                yield pdf[pdf["term"].map(norm) == target]

        rows = (self.ix.stats.select("term")
                .mapInPandas(_flt, "term string")
                .collect())
        return sorted(r["term"] for r in rows)

    def _plan_span_or(self, q: SpanOr, scored: bool) -> DataFrame:
        """span_or: pf = distinct positions occupied by ANY member term;
        pseudo-term idf = Σ member idfs (one scan over the members'
        postings, no joins)."""
        terms = sorted(set(q.clauses))
        if not terms:
            return self._empty()
        pos = (self.ix.postings_for(terms)
               .select("docid", "dl_q", F.explode("positions").alias("_p")))
        joined = (pos.groupBy("docid", "dl_q")
                  .agg(F.countDistinct("_p").cast("double").alias("pf")))
        return self._phrase_score(joined, terms, scored)

    def _plan_span_not(self, q: SpanNot, scored: bool) -> DataFrame:
        """span_not: occurrences of `include` with no `exclude` occurrence
        in [pos−pre, pos+post] — a left_anti positional join; pf = count
        of surviving positions."""
        inc = (self.ix.postings_for([q.include])
               .filter(F.col("term") == q.include)
               .select("docid", "dl_q", F.explode("positions").alias("_p")))
        exc = (self.ix.postings_for([q.exclude])
               .filter(F.col("term") == q.exclude)
               .select(F.col("docid").alias("_xd"),
                       F.explode("positions").alias("_q")))
        clash = ((F.col("docid") == F.col("_xd"))
                 & (F.col("_q") >= F.col("_p") - F.lit(int(q.pre)))
                 & (F.col("_q") <= F.col("_p") + F.lit(int(q.post))))
        kept = inc.join(exc, on=clash, how="left_anti")
        joined = (kept.groupBy("docid", "dl_q")
                  .agg(F.countDistinct("_p").cast("double").alias("pf")))
        return self._phrase_score(joined, [q.include], scored)

    def _plan_span_within(self, q: SpanWithin, scored: bool) -> DataFrame:
        """span_within / span_containing: join the big span's match windows
        [min, max] against the little term's positions. The big-span join
        re-runs the span_near chain exposing per-match windows instead of
        aggregating them away."""
        big = [t for t in q.big if t]
        if not big or not q.little:
            return self._empty()
        uniq = sorted(set(big))
        p = self.ix.postings_for(uniq).select("term", "docid", "positions",
                                              "dl_q")
        legs = []
        for i, t in enumerate(big):
            legs.append(
                p.filter(F.col("term") == t)
                 .select("docid", F.explode("positions").alias(f"_p{i}"),
                         *(["dl_q"] if i == 0 else [])))
        cur = legs[0]
        for i in range(1, len(big)):
            cur = (cur.join(legs[i], "docid")
                   .filter(F.col(f"_p{i}") > F.col(f"_p{i-1}")))
        pcols = [F.col(f"_p{i}") for i in range(len(big))]
        width = (F.greatest(*pcols) - F.least(*pcols)
                 - F.lit(len(big) - 1))
        wins = (cur.filter(width <= int(q.big_slop))
                .select("docid", "dl_q",
                        F.least(*pcols).alias("_lo"),
                        F.greatest(*pcols).alias("_hi")))
        lit = (self.ix.postings_for([q.little])
               .filter(F.col("term") == q.little)
               .select(F.col("docid").alias("_ld"),
                       F.explode("positions").alias("_lp")))
        j = wins.join(lit, (F.col("docid") == F.col("_ld"))
                      & (F.col("_lp") >= F.col("_lo"))
                      & (F.col("_lp") <= F.col("_hi")))
        if q.mode == "within":
            joined = (j.groupBy("docid", "dl_q")
                      .agg(F.countDistinct("_lp").cast("double").alias("pf")))
            return self._phrase_score(joined, [q.little], scored)
        if q.mode == "containing":
            joined = (j.groupBy("docid", "dl_q")
                      .agg(F.countDistinct("_lo").cast("double").alias("pf")))
            return self._phrase_score(joined, big, scored)
        raise ValueError(f"unknown span_within mode: {q.mode}")

    def _plan_terms_set(self, q: TermsSet, scored: bool) -> DataFrame:
        """terms_set: BM25 sum over the exact (unanalyzed) member terms,
        kept when the per-doc distinct-match count ≥ required — the match
        msm machinery without an analyzer pass."""
        terms = sorted(set(q.values))
        if not terms:
            return self._empty()
        out = _combine(self._term_scores(terms, scored),
                       [dict.fromkeys(terms, 1)])
        if q.required > 1:
            out = out.filter(F.col("_n0") >= int(q.required))
        return out.select("docid", F.col("_s0").alias("score"))

    def _function_col(self, fn) -> Column:
        if isinstance(fn, WeightFunction):
            return F.lit(float(fn.weight))
        if isinstance(fn, RandomScore):
            # md5-derived uniform [0,1): first 8 hex chars as uint32/2^32
            # over "<field>:<seed>" — reproducible by any SQL engine
            # (RandomScoreFunctionBuilder semantics; hash fn differs,
            # see queries.RandomScore)
            h = F.md5(F.concat(F.col(fn.field).cast("string"),
                               F.lit(f":{int(fn.seed)}")))
            return (F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
                    / F.lit(4294967296.0))
        if isinstance(fn, ScriptScore):
            # script_score: the compiled Painless expression IS the function
            # value; `_score` resolves to the base query's score column
            # (sv/index/query/functionscore/ScriptScoreFunctionBuilder.java)
            from sparksearch.painless import compile_script
            return compile_script(fn.source, fn.params,
                                  score_col="score").col
        if isinstance(fn, FieldValueFactor):
            v = (F.coalesce(F.col(fn.field).cast("double"),
                            F.lit(float(fn.missing)))
                 * float(fn.factor))
            mod = fn.modifier
            if mod == "none":
                return v
            if mod == "log1p":          # log10(1+x) — FieldValueFactor
                return F.log10(F.lit(1.0) + v)
            if mod == "ln1p":
                return F.log1p(v)
            if mod == "sqrt":
                return F.sqrt(v)
            if mod == "square":
                return v * v
            if mod == "reciprocal":
                return F.lit(1.0) / v
            raise ValueError(f"unknown modifier: {mod}")
        if isinstance(fn, DecayFunction):
            import math
            if isinstance(fn.origin, str):
                v = (F.unix_timestamp(F.col(fn.field)).cast("double")
                     - F.unix_timestamp(
                         F.to_timestamp(F.lit(fn.origin))).cast("double"))
            else:
                v = F.col(fn.field).cast("double") - float(fn.origin)
            dist = F.greatest(F.abs(v) - float(fn.offset), F.lit(0.0))
            if fn.kind == "gauss":
                sigma2 = -(fn.scale ** 2) / (2.0 * math.log(fn.decay))
                return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
            if fn.kind == "exp":
                lam = math.log(fn.decay) / fn.scale
                return F.exp(dist * F.lit(lam))
            if fn.kind == "linear":
                s = fn.scale / (1.0 - fn.decay)
                return F.greatest(F.lit(0.0),
                                  (F.lit(s) - dist) / F.lit(s))
            raise ValueError(f"unknown decay kind: {fn.kind}")
        raise TypeError(f"unknown score function: {fn!r}")

    def _plan_function_score(self, q: FunctionScore,
                             scored: bool) -> DataFrame:
        """function_score operator: base query scores × function values,
        folded per score_mode / boost_mode
        (sv/index/query/functionscore/FunctionScoreQueryBuilder.java:72).
        Functions are pure Catalyst column expressions over the doc-values
        columns — zero Python, one broadcast-join against the base hits."""
        base = self._plan(q.query, scored)
        if not scored:
            return base
        wanted = set()
        for fn in q.functions:
            if isinstance(fn, ScriptScore):
                from sparksearch.painless import compile_script
                wanted |= compile_script(fn.source, fn.params).doc_fields
            elif hasattr(fn, "field"):
                wanted.add(fn.field)
        fields = sorted(wanted - {"docid", "score"})
        df = base
        if fields:
            df = base.join(self.ix.docs.select("docid", *fields), "docid")
        if not q.functions:
            return df.select("docid", "score")
        fvals = [self._function_col(fn) for fn in q.functions]
        mode = q.score_mode
        if mode == "multiply":
            fv = reduce(lambda a, b: a * b, fvals)
        elif mode == "sum":
            fv = reduce(lambda a, b: a + b, fvals)
        elif mode == "avg":
            fv = reduce(lambda a, b: a + b, fvals) / float(len(fvals))
        elif mode == "max":
            fv = fvals[0] if len(fvals) == 1 else F.greatest(*fvals)
        elif mode == "min":
            fv = fvals[0] if len(fvals) == 1 else F.least(*fvals)
        elif mode == "first":
            fv = fvals[0]
        else:
            raise ValueError(f"unknown score_mode: {mode}")
        qs = F.col("score")
        bm = q.boost_mode
        if bm == "multiply":
            total = qs * fv
        elif bm == "replace":
            total = fv
        elif bm == "sum":
            total = qs + fv
        elif bm == "avg":
            total = (qs + fv) / F.lit(2.0)
        elif bm == "max":
            total = F.greatest(qs, fv)
        elif bm == "min":
            total = F.least(qs, fv)
        else:
            raise ValueError(f"unknown boost_mode: {bm}")
        return df.select("docid", total.alias("score"))

    def docvalue_only_cond(self, q: Query):
        """The whole query as ONE doc-values predicate, or None if any
        part needs postings/scoring. Powers the index-sort early-
        termination fast path: a filter-context query over doc values
        can run inside the pruned sorted scan instead of a full plan."""
        if isinstance(q, MatchAll):
            return F.lit(True)
        if isinstance(q, (Term, Terms, Range, Exists, Prefix, Ids,
                          Script, Nested)):
            return self._docvalue_cond(q)
        if isinstance(q, Bool) and not q.should and not q.must_not \
                and not q.minimum_should_match:
            conds = []
            for c in list(q.must) + list(q.filter):
                sub = self.docvalue_only_cond(c)
                if sub is None:
                    return None
                conds.append(sub)
            if not conds:
                return None
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out
        return None

    def _plan_nested(self, q: Nested, scored: bool) -> DataFrame:
        """Nested as a top-level query. Inner queries are doc-values
        predicates, so each matching element ('child doc') scores a
        constant 1 and the reference's ScoreMode reduces to: sum = the
        matching-element count, avg/max/min = 1, none = filter context
        (Lucene ToParentBlockJoinQuery score modes over constant-scoring
        child queries). Still ONE docs scan — the element filter is a
        JVM lambda, no child-doc materialization."""
        from sparksearch.nested import matching_elements, nested_cond
        base = self.ix.docs.filter(nested_cond(q.path, q.query))
        if not scored or q.score_mode == "none":
            return base.select("docid", F.lit(0.0).alias("score"))
        if q.score_mode == "sum":
            score = (F.size(matching_elements(q.path, q.query))
                     .cast("double"))
        elif q.score_mode in ("avg", "max", "min"):
            score = F.lit(1.0)
        else:
            raise ValueError(f"nested score_mode {q.score_mode!r}")
        return base.select("docid", score.alias("score"))

    def _plan_docvalue_filter(self, q: Query) -> DataFrame:
        """Metadata-field predicates answered from the docs table (the
        engine's doc-values columnar store) with full Catalyst pushdown."""
        return (self.ix.docs.filter(self._docvalue_cond(q))
                .select("docid", F.lit(0.0).alias("score")))

    def _docvalue_cond(self, q: Query) -> Column:
        """The Catalyst predicate for a doc-values query — shared by the
        standalone plan and the bool path's fused filter leg (ALL of a
        bool's docvalue filters evaluate in ONE docs scan)."""
        if isinstance(q, Term):
            cond = F.col(q.field_name) == F.lit(q.value)
        elif isinstance(q, Terms):
            cond = F.col(q.field_name).isin(list(q.values))
        elif isinstance(q, Exists):
            cond = F.col(q.field_name).isNotNull()
        elif isinstance(q, Prefix):
            cond = F.col(q.field_name).startswith(q.value)
        elif isinstance(q, Ids):
            cond = F.col("url").isin(list(q.values))
        elif isinstance(q, Range):
            # date-math bounds ("now-1d/d", "2025-01-05||+2h/m") resolve
            # driver-side against the frozen `now`
            # (sv/index/query/RangeQueryBuilder.java:444)
            from sparksearch.datemath import resolve_range_value
            cond = F.lit(True)
            for bound in ("gte", "gt", "lte", "lt"):
                v = getattr(q, bound)
                if v is None:
                    continue
                v = resolve_range_value(v, bound, self.fixed_now)
                col = F.col(q.field_name)
                cond = cond & {"gte": col >= F.lit(v), "gt": col > F.lit(v),
                               "lte": col <= F.lit(v),
                               "lt": col < F.lit(v)}[bound]
                if self.ix.time_partition and q.field_name == "warc_ts":
                    # redundant partition-column conjunct → directory
                    # pruning on the time-partitioned docs scan
                    p = self._pday_of(v)
                    if p is not None:
                        pc = F.col("pday")
                        cond = cond & (pc >= p if bound in ("gte", "gt")
                                       else pc <= p)
        elif isinstance(q, Script):
            # compiled Painless predicate — a Catalyst expression over the
            # doc-values columns, pushed into the docs scan like any other
            # filter (sv/index/query/ScriptQueryBuilder.java)
            from sparksearch.painless import compile_script
            cond = compile_script(q.source, q.params).col
        elif isinstance(q, Nested):
            # block-join semantics as one exists() lambda over the
            # array-of-structs doc-values column — every inner clause
            # binds to the SAME element (nested.py;
            # sv/index/query/NestedQueryBuilder.java:96-180)
            from sparksearch.nested import nested_cond
            cond = nested_cond(q.path, q.query)
        else:
            raise TypeError(q)
        return cond

    # ---- bool: fused single-scan execution ---------------------------------
    def _fusable(self, c: Query) -> bool:
        if isinstance(c, Named):
            c = c.query
        if not (isinstance(c, Match) and c.fuzziness is None):
            return False
        # synonym-stacked token streams need per-position blended scoring
        # (_plan_match_blended) — the fused path scores terms independently
        toks = analyze(c.text, c.analyzer or self.ix.analyzer)
        return len({p for _, p in toks}) == len(toks)

    def _match_clause_info(self, c: Match):
        """(Counter(terms), required_match_count) for a match clause."""
        from collections import Counter
        if isinstance(c, Named):
            c = c.query
        terms = [t for t, _ in analyze(c.text, c.analyzer or self.ix.analyzer)]
        cnt = Counter(terms)
        if c.operator == "and":
            need = len(terms)
        else:
            need = max(1, calculate_min_should_match(
                len(terms), c.minimum_should_match, has_required=False))
        return cnt, need

    def _plan_bool(self, q: Bool, scored: bool) -> DataFrame:
        tw = self._time_window_of(list(q.filter) + list(q.must))
        if tw:
            self._twindow.append(tw)
            try:
                return self._plan_bool_inner(q, scored)
            finally:
                self._twindow.pop()
        return self._plan_bool_inner(q, scored)

    _TP_STRF = {"day": "%Y-%m-%d", "hour": "%Y-%m-%d-%H",
                "minute": "%Y-%m-%d-%H-%M"}

    def _pday_of(self, v) -> str | None:
        """Truncate a range bound to the index's pday format; None when the
        value doesn't parse (pruning is then skipped, never wrong)."""
        import datetime
        fmt = self._TP_STRF[self.ix.time_partition]
        if isinstance(v, datetime.datetime):
            return v.strftime(fmt)
        try:
            return datetime.datetime.fromisoformat(str(v)).strftime(fmt)
        except ValueError:
            return None

    def _time_window_of(self, clauses) -> tuple | None:
        """(lo_pday, hi_pday) derived from Range clauses on warc_ts — the
        can_match window. Truncation makes it an over-approximation: the
        boundary partitions stay in, row-level filters finish the job."""
        if not self.ix.time_partition:
            return None
        from sparksearch.datemath import resolve_range_value
        lo = hi = None
        found = False
        for c in clauses:
            if not (isinstance(c, Range) and c.field_name == "warc_ts"):
                continue
            for bound, side in (("gte", "lo"), ("gt", "lo"),
                                ("lte", "hi"), ("lt", "hi")):
                v = getattr(c, bound)
                if v is None:
                    continue
                p = self._pday_of(
                    resolve_range_value(v, bound, self.fixed_now))
                if p is None:
                    continue
                found = True
                if side == "lo":
                    lo = p if lo is None else max(lo, p)
                else:
                    hi = p if hi is None else min(hi, p)
        return (lo, hi) if found else None

    def _plan_bool_inner(self, q: Bool, scored: bool) -> DataFrame:
        must, should, must_not, filt = (list(q.must), list(q.should),
                                        list(q.must_not), list(q.filter))
        if not must and not should and not filt and must_not:
            must = [MatchAll()]  # pure-negative fix (BoolQueryBuilder.java:85)

        # ---- fuse all plain match clauses through ONE postings scan -------
        # A k-clause bool of match queries used to issue k independent
        # postings scans + stats joins + (k-1) docid joins. Instead: scan
        # postings_for(union of all clause terms) once, score per
        # (docid, term), and derive every clause's matched-count and score
        # from a single groupBy(docid) with one column per term
        # (_combine) — one scan, one shuffle, regardless of clause count.
        fm = [c for c in must if self._fusable(c)]
        fs = [c for c in should if self._fusable(c)]
        fn = [c for c in must_not if self._fusable(c)]
        work = None  # (docid, _f_ms, _f_mok, _f_os, _f_on, _f_neg) — ONE scan
        infos_m: list = []
        infos_s: list = []
        infos_n: list = []
        if len(fm) + len(fs) + len(fn) >= 2:
            infos_m = [self._match_clause_info(c) for c in fm]
            if any(not cnt for cnt, _ in infos_m):
                return self._empty()  # a must clause analyzed to zero terms
            infos_s = [x for x in (self._match_clause_info(c) for c in fs)
                       if x[0]]
            infos_n = [x for x in (self._match_clause_info(c) for c in fn)
                       if x[0]]
        # every fusable clause analyzing to zero terms (e.g. all
        # stopwords) leaves nothing to fuse: plan the clauses unfused
        if infos_m or infos_s or infos_n:
            infos = infos_m + infos_s + infos_n
            all_terms = sorted(set().union(*[cnt for cnt, _ in infos]))
            fused = _combine(self._term_scores(all_terms, scored),
                             [cnt for cnt, _ in infos])
            # clause i of `infos` is _s{i} / _n{i}; derive every
            # clause-combination column in one projection so the
            # scan+shuffle behind `fused` appears exactly once in the
            # final plan (Spark does not dedupe repeated subplans)
            ok = [F.col(f"_n{i}") >= float(need)
                  for i, (_, need) in enumerate(infos)]
            m_ix = range(len(infos_m))
            s_ix = range(len(infos_m), len(infos_m) + len(infos_s))
            n_ix = range(len(infos_m) + len(infos_s), len(infos))
            mok = (reduce(lambda a, b: a & b, [ok[i] for i in m_ix])
                   if infos_m else F.lit(True))
            ms = (reduce(lambda a, b: a + b,
                         [F.col(f"_s{i}") for i in m_ix])
                  if infos_m and scored else F.lit(0.0))
            if infos_s:
                os_ = reduce(lambda a, b: a + b,
                             [F.when(ok[i], F.col(f"_s{i}"))
                              .otherwise(F.lit(0.0)) for i in s_ix])
                on_ = reduce(lambda a, b: a + b,
                             [ok[i].cast("int") for i in s_ix])
            else:
                os_, on_ = F.lit(0.0), F.lit(0)
            neg = (reduce(lambda a, b: a | b, [ok[i] for i in n_ix])
                   if infos_n else F.lit(False))
            work = fused.select(
                "docid", ms.alias("_f_ms"), mok.alias("_f_mok"),
                (os_ if scored else F.lit(0.0)).alias("_f_os"),
                on_.alias("_f_on"), neg.alias("_f_neg"))
            must = [c for c in must if not self._fusable(c)]
            should_unfused = [c for c in should if not self._fusable(c)]
            must_not = [c for c in must_not if not self._fusable(c)]
        else:
            should_unfused = should

        msm = calculate_min_should_match(
            len(should), q.minimum_should_match,
            has_required=bool(infos_m or must or filt))

        # unfused required legs (docid, score)
        req: DataFrame | None = None
        for c in must:
            leg = self._plan(c, scored)
            req = leg if req is None else (
                req.join(leg.withColumnRenamed("score", "_s"), "docid")
                   .select("docid",
                           (F.col("score") + F.col("_s")).alias("score")))
        # fuse every docvalue filter clause into ONE docs scan with a
        # conjoined pushed-down predicate (f filter legs used to cost f
        # scans + f semi-joins)
        dv = [c for c in filt
              if isinstance(c, (Term, Terms, Range, Exists, Prefix, Ids,
                                Script, Nested))]
        other_filt = [c for c in filt if c not in dv]
        if dv:
            cond = reduce(lambda a, b: a & b,
                          [self._docvalue_cond(c) for c in dv])
            leg = self.ix.docs.filter(cond).select("docid")
            req = (leg.select("docid", F.lit(0.0).alias("score"))
                   if req is None else req.join(leg, "docid", "left_semi"))
        for c in other_filt:
            leg = self._plan(c, scored=False).select("docid")
            req = (leg.select("docid", F.lit(0.0).alias("score"))
                   if req is None else req.join(leg, "docid", "left_semi"))

        # unfused optional legs aggregated to (docid, _opt_score, _n_opt)
        opt: DataFrame | None = None
        if should_unfused:
            legs = [self._plan(c, scored) for c in should_unfused]
            unioned = reduce(lambda a, b: a.unionAll(b), legs)
            opt = (unioned.groupBy("docid")
                   .agg(F.sum("score").alias("_opt_score"),
                        F.count("*").alias("_n_opt")))

        if work is not None and infos_m:
            # fused must is the base: filter + exclusion + should all from
            # the same projection, unfused legs joined onto it
            out = work.filter(F.col("_f_mok") & ~F.col("_f_neg"))
            if req is not None:
                out = (out.join(req, "docid")
                       .withColumn("_f_ms", F.col("_f_ms") + F.col("score"))
                       .drop("score"))
            n_opt = F.col("_f_on")
            s_opt = F.col("_f_os")
            if opt is not None:
                out = out.join(opt, "docid", "left")
                n_opt = n_opt + F.coalesce(F.col("_n_opt"), F.lit(0))
                s_opt = s_opt + F.coalesce(F.col("_opt_score"), F.lit(0.0))
            if msm > 0:
                out = out.filter(n_opt >= msm)
            out = out.select("docid",
                             (F.col("_f_ms") + s_opt).alias("score"))
        elif req is not None:
            # unfused required base; fused block (should/neg only) left-joined
            out = req
            if work is not None:
                out = (out.join(work, "docid", "left")
                       .filter(~F.coalesce(F.col("_f_neg"), F.lit(False))))
            n_opt = (F.coalesce(F.col("_f_on"), F.lit(0))
                     if work is not None else F.lit(0))
            s_opt = (F.coalesce(F.col("_f_os"), F.lit(0.0))
                     if work is not None else F.lit(0.0))
            if opt is not None:
                out = out.join(opt, "docid", "left")
                n_opt = n_opt + F.coalesce(F.col("_n_opt"), F.lit(0))
                s_opt = s_opt + F.coalesce(F.col("_opt_score"), F.lit(0.0))
            if msm > 0:
                out = out.filter(n_opt >= msm)
            out = out.select("docid", (F.col("score") + s_opt).alias("score"))
        elif work is None and opt is not None:
            out = (opt.filter(F.col("_n_opt") >= msm) if msm > 0 else opt) \
                .select("docid", F.col("_opt_score").alias("score"))
        elif work is not None:
            # pure-optional bool: union the fused pseudo-leg (carrying its
            # satisfied count and neg flag) with the unfused aggregation
            legs = []
            if work is not None:
                legs.append(work
                            .filter((F.col("_f_on") >= 1) | F.col("_f_neg"))
                            .select("docid", F.col("_f_os").alias("_s"),
                                    F.col("_f_on").alias("_n"),
                                    F.col("_f_neg").alias("_neg")))
            if opt is not None:
                legs.append(opt.select("docid",
                                       F.col("_opt_score").alias("_s"),
                                       F.col("_n_opt").alias("_n"),
                                       F.lit(False).alias("_neg")))
            unioned = reduce(lambda a, b: a.unionAll(b), legs)
            agg = (unioned.groupBy("docid")
                   .agg(F.sum("_s").alias("_opt_score"),
                        F.sum("_n").alias("_n_opt"),
                        F.max(F.col("_neg").cast("int")).alias("_negmax")))
            agg = agg.filter(F.col("_negmax") == 0)
            if msm > 0:
                agg = agg.filter(F.col("_n_opt") >= msm)
            out = agg.select("docid", F.col("_opt_score").alias("score"))
        else:
            out = self._plan(MatchAll(), scored)

        for c in must_not:
            excl = self._plan(c, scored=False).select("docid")
            out = out.join(excl, "docid", "left_anti")
        return out
