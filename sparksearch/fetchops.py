"""Fetch-phase add-ons: highlighting and term suggestion.

- highlight: the reference re-analyzes fetched text and wraps matched terms
  (sv/search/fetch/subphase/highlight/PlainHighlighter.java — default tags
  <em>/</em>). Here: word-boundary regexp_replace over the fetched text —
  exact for the engine's whitespace-separated corpus, JVM-side, and
  reproducible in the SQL oracle.
- term suggester: corrections from the term dictionary ranked by
  (edit distance asc, df desc, term asc) within max_edits — the analogue of
  sv/search/suggest/ term suggesting over the live dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["highlight", "suggest_terms", "suggest_phrase",
           "suggest_completion", "script_fields", "fetch_source",
           "collect_named", "matched_queries"]


def collect_named(q) -> list:
    """All (name, inner_query) pairs of `Named` nodes in a query tree, in
    tree order (sv/search/fetch/subphase/MatchedQueriesPhase.java collects
    the named Weights the same way)."""
    from sparksearch.queries import (Boosting, Bool, ConstantScore, DisMax,
                                     FunctionScore, Named)
    out = []

    def walk(x):
        if x is None:
            return
        if isinstance(x, Named):
            out.append((x.name, x.query))
            walk(x.query)
        elif isinstance(x, Bool):
            for c in (*x.must, *x.should, *x.must_not, *x.filter):
                walk(c)
        elif isinstance(x, ConstantScore):
            walk(x.filter_query)
        elif isinstance(x, DisMax):
            for c in x.queries:
                walk(c)
        elif isinstance(x, Boosting):
            walk(x.positive)
            walk(x.negative)
        elif isinstance(x, FunctionScore):
            walk(x.query)

    walk(q)
    return out


def matched_queries(ex, hits: DataFrame, q) -> DataFrame:
    """Annotate each hit with the sorted names of the query's `_name`d
    clauses it matches (SearchHit.matchedQueries).

    Scale shape: each named clause's plan is first semi-joined against the
    BROADCAST hit set (k rows), so only ≤k membership rows per clause ever
    move; the final left joins are all broadcast-sized regardless of how
    large the clause's full match set is."""
    named = collect_named(q)
    if not named:
        return hits.withColumn("matched_queries",
                               F.array().cast("array<string>"))
    ids = hits.select("docid")
    out = hits
    flags = []
    for i, (name, sub) in enumerate(named):
        flag = f"_mq_{i}"
        m = (ex._plan(sub, scored=False).select("docid").distinct()
             .join(F.broadcast(ids), "docid", "left_semi")
             .withColumn(flag, F.lit(True)))
        out = out.join(F.broadcast(m), "docid", "left")
        flags.append((flag, name))
    arr = F.array_sort(F.filter(
        F.array(*[F.when(F.col(f), F.lit(n)) for f, n in flags]),
        lambda x: x.isNotNull()))
    return out.select(*hits.columns, arr.alias("matched_queries"))


def fetch_source(ix, hits: DataFrame, includes: list | None = None,
                 excludes: list | None = None) -> DataFrame:
    """`_source` filtering on the fetch phase: keep the source fields
    matching the include patterns minus the exclude patterns (`*` glob
    wildcards, sv/search/fetch/subphase/FetchSourcePhase.java →
    XContentMapValues.filter). Column pruning happens at plan time — the
    docs scan reads ONLY the surviving fields."""
    import fnmatch

    fields = [c for c in ix.docs.columns if c != "docid"]
    if includes:
        keep = [f for f in fields
                if any(fnmatch.fnmatchcase(f, p) for p in includes)]
    else:
        keep = list(fields)
    if excludes:
        keep = [f for f in keep
                if not any(fnmatch.fnmatchcase(f, p) for p in excludes)]
    keep = [f for f in keep if f not in hits.columns]
    if not keep:
        return hits
    return (ix.docs.select("docid", *keep)
            .join(F.broadcast(hits), "docid")
            .select(*hits.columns, *keep))


def script_fields(ix, hits: DataFrame, scripts: dict,
                  params: dict | None = None) -> DataFrame:
    """Fetch-phase `script_fields`: add one computed column per named
    Painless script to a hits frame
    (sv/search/fetch/subphase/ScriptFieldsPhase.java). Scripts compile to
    Catalyst columns (sparksearch.painless) — zero Python per row; only the
    doc-values columns the scripts actually read are joined in (one
    broadcast-sized join against the hits, column-pruned docs scan)."""
    from sparksearch.painless import compile_script

    compiled = {name: compile_script(src, params) for name, src in
                scripts.items()}
    need = sorted(set().union(*[c.doc_fields for c in compiled.values()])
                  - set(hits.columns) - {"docid"})
    df = hits
    if need:
        # hits is the top-k side — broadcast it against the (column-pruned)
        # docs scan so the join never shuffles the corpus
        df = (ix.docs.select("docid", *need)
              .join(F.broadcast(hits), "docid"))
    return df.select(*hits.columns,
                     *[c.col.alias(name) for name, c in
                       sorted(compiled.items())])


def highlight(topk: DataFrame, pages: DataFrame, terms: list[str],
              pre: str = "<em>", post: str = "</em>") -> DataFrame:
    """Wrap query-term word occurrences in the fetched text.

    `topk` must carry (docid, url, score); text comes from the corpus via a
    broadcast join on url (the fetch phase itself)."""
    import re as _re
    pat = r"\b(" + "|".join(_re.escape(t) for t in sorted(set(terms))) + r")\b"
    fetched = pages.select("url", "text").join(F.broadcast(topk), "url")
    return (fetched.select(
        "docid", "url", "score",
        F.regexp_replace(F.col("text"), pat, f"{pre}$1{post}")
        .alias("highlight"))
        .orderBy(F.col("score").desc(), F.col("docid").asc()))


def suggest_terms(ix, text: str, max_edits: int = 2,
                  size: int = 3, suggest_mode: str = "missing",
                  prefix_length: int = 1,
                  min_doc_freq: int = 0) -> DataFrame:
    """Term-suggester: nearest dictionary terms for each input token.

    Reference parameters (sv/search/suggest/term/
    TermSuggestionBuilder.java defaults):
    - ``suggest_mode``: "missing" (default — suggest only for input
      tokens NOT in the index), "popular" (candidates must have a
      higher df than the input term), "always";
    - ``prefix_length`` (default 1): candidates must share the input's
      first N characters (DirectSpellChecker.prefixLength — the "first
      letter is rarely mistyped" prune, which also shrinks the
      dictionary band scan);
    - ``min_doc_freq``: candidate df floor (0 = off).
    """
    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"suggest_mode {suggest_mode!r}")
    from sparksearch.analysis import analyze
    toks = sorted({t for t, _ in analyze(text, ix.search_analyzer)})
    if not toks:
        return ix.stats.select(
            F.lit("").alias("input"), "term", "df").limit(0)
    from sparksearch.index import literal_frame
    inputs = literal_frame(ix.spark, ["input"], [(t,) for t in toks])
    d = ix.stats.select("term", "df")
    if suggest_mode in ("missing", "popular"):
        # df of the input token itself (0 when absent from the index)
        in_df = (inputs.join(d.withColumnRenamed("term", "input"),
                             "input", "left")
                 .select("input", F.coalesce("df", F.lit(0))
                         .cast("long").alias("_in_df")))
        if suggest_mode == "missing":
            inputs = (in_df.where(F.col("_in_df") == 0)
                      .select("input"))
        else:
            inputs = in_df
    # length-band prune BEFORE the levenshtein: |len(term) − len(input)| >
    # max_edits can never be within distance, so the expensive distance runs
    # only on the band (at a 10⁹-term dictionary this cuts the candidate
    # set by ~the dictionary's length distribution, and the cheap length
    # predicate is evaluated first in the joined filter)
    band = ((F.length("term") >= F.length("input") - max_edits)
            & (F.length("term") <= F.length("input") + max_edits))
    if prefix_length > 0:
        band = band & (F.substring("term", 1, prefix_length)
                       == F.substring("input", 1, prefix_length))
    cand = (d.join(F.broadcast(inputs), band)
            .withColumn("dist",
                        F.levenshtein(F.col("input"), F.col("term")))
            .where(F.col("dist") <= max_edits)
            .where(F.col("dist") > 0))
    if min_doc_freq > 0:
        cand = cand.where(F.col("df") >= min_doc_freq)
    if suggest_mode == "popular":
        cand = cand.where(F.col("df") > F.col("_in_df")).drop("_in_df")
    w = Window.partitionBy("input").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= size)
            .select("input", "term", F.col("dist").cast("int").alias("dist"),
                    F.col("df").cast("long").alias("df"), "rank")
            .orderBy("input", "rank"))


def suggest_phrase(ix, text: str, per_token: int = 3, max_edits: int = 2,
                   size: int = 3, collate: bool = False) -> DataFrame:
    """Phrase suggester: whole-phrase corrections ranked by a simple
    smoothed unigram score (sv/search/suggest/phrase/PhraseSuggester.java —
    candidate generation per token + whole-phrase ranking; the reference's
    Laplace-smoothed language model collapses to Σ log10(df+1) here, with
    an edit-distance penalty per corrected token).

    Per input token: the top `per_token` dictionary candidates by
    (distance asc, df desc, term asc), distance 0 allowed (keep the token).
    Candidate phrases are the cross product of the per-token shortlists
    (bounded: per_token^n rows, all broadcast-sized), scored by
    Σ (log10(df+1) − dist). Returns (phrase, score, rank).

    ``collate=True`` prunes candidates with no hits — the reference's
    collate stage (PhraseSuggester runs the collate query template per
    suggestion and drops non-matching ones; the standard template is a
    match of the suggestion, realized here as "all phrase tokens
    co-occur in >= 1 doc": the tiny candidate set broadcasts against
    the postings, grouped per (phrase, doc) with a distinct-term count
    — one shuffle bounded by |candidates| × their df)."""
    from sparksearch.analysis import analyze
    from pyspark.sql import Window
    toks = [t for t, _ in analyze(text, ix.search_analyzer)]
    if not toks:
        return ix.spark.createDataFrame(
            [], "phrase string, score double, rank int")
    d = ix.stats.select("term", "df")
    shortlists = []
    for i, tk in enumerate(toks):
        band = ((F.length("term") >= len(tk) - max_edits)
                & (F.length("term") <= len(tk) + max_edits))
        cand = (d.where(band)
                .withColumn("dist", F.levenshtein(F.col("term"), F.lit(tk)))
                .where(F.col("dist") <= max_edits))
        # TakeOrderedAndProject (distributed per-partition top-k + merge)
        # — not a single-partition row_number window over the candidates
        short = (cand.orderBy(F.col("dist").asc(), F.col("df").desc(),
                              F.col("term").asc())
                 .limit(per_token)
                 .select(F.col("term").alias(f"t{i}"),
                         (F.log10(F.col("df") + 1)
                          - F.col("dist")).alias(f"s{i}")))
        shortlists.append(short)
    cur = shortlists[0]
    for i in range(1, len(toks)):
        cur = cur.crossJoin(F.broadcast(shortlists[i]))
    phrase = F.concat_ws(" ", *[F.col(f"t{i}") for i in range(len(toks))])
    score = None
    for i in range(len(toks)):
        score = F.col(f"s{i}") if score is None else score + F.col(f"s{i}")
    scored = cur.select(phrase.alias("phrase"),
                        F.round(score, 6).alias("score"))
    if collate:
        cand_terms = (scored
                      .select("phrase", F.explode(F.array_distinct(
                          F.split("phrase", " "))).alias("term")))
        need = (cand_terms.groupBy("phrase")
                .agg(F.count(F.lit(1)).alias("_need")))
        hits = (F.broadcast(cand_terms)
                .join(ix.postings.select("term", "docid"), "term")
                .groupBy("phrase", "docid")
                .agg(F.countDistinct("term").alias("_nm"))
                .join(F.broadcast(need), "phrase")
                .where(F.col("_nm") == F.col("_need"))
                .select("phrase").distinct())
        scored = scored.join(F.broadcast(hits), "phrase", "left_semi")
    w = Window.orderBy(F.col("score").desc(), F.col("phrase").asc())
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= size)
            .orderBy("rank"))


def suggest_completion(ix, prefix: str, size: int = 5) -> DataFrame:
    """Completion suggester: dictionary terms carrying the prefix, ranked
    by df desc then term asc (sv/search/suggest/completion/ — the
    reference's FST-backed prefix walk; here a sargable startswith over the
    sorted term dictionary, so parquet min/max prunes row groups)."""
    return (ix.stats.select("term", F.col("df").cast("long").alias("df"))
            .where(F.col("term").startswith(prefix))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(size))


def suggest_completion_contexts(ix, prefix: str, field: str,
                                values: list, size: int = 5) -> DataFrame:
    """Completion suggester with CATEGORY CONTEXTS
    (sv/search/suggest/completion/context/CategoryContextMapping.java):
    only suggestions indexed under one of the requested context values
    are returned. Contexts here derive from a doc-values field — a term's
    contexts are the `field` values of the docs containing it, the
    natural mapping for a corpus-derived dictionary. Ranked by in-context
    df desc, term asc.

    Plan shape: prefix-pruned postings (sargable startswith on the sorted
    term dictionary) joined to the column-pruned docs scan on docid, THEN
    the context filter — never an unpruned postings scan."""
    terms = (ix.stats.select("term")
             .where(F.col("term").startswith(prefix)))
    p = (ix.postings.select("term", "docid")
         .where(F.col("term").startswith(prefix))
         .join(F.broadcast(terms), "term"))
    d = ix.docs.select("docid", F.col(field).alias("_ctx"))         .where(F.col(field).isin(list(values)))
    return (p.join(d, "docid")
            .groupBy("term")
            .agg(F.countDistinct("docid").cast("long").alias("df"),
                 F.concat_ws(",", F.sort_array(
                     F.collect_set("_ctx"))).alias("contexts"))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(size))


def suggest_completion_fuzzy(ix, prefix: str, fuzziness: int = 1,
                             prefix_length: int = 1,
                             size: int = 5) -> DataFrame:
    """FUZZY completion (sv/search/suggest/completion/FuzzyOptions.java /
    Lucene FuzzyCompletionQuery): a term matches when its leading
    |prefix| chars are within `fuzziness` edits of the prefix, with the
    first `prefix_length` chars required exact (Lucene's nonFuzzyPrefix).
    Exact-prefix completions rank ahead of fuzzy ones (the reference
    boosts exact matches), then df desc, term asc.

    The exact-prefix-length guard makes the dictionary scan sargable on
    the first `prefix_length` chars (startswith on the sorted term
    column) before the levenshtein runs."""
    n = len(prefix)
    exact_head = prefix[:prefix_length]
    cand = (ix.stats.select("term", F.col("df").cast("long").alias("df"))
            .where(F.col("term").startswith(exact_head))
            .withColumn("dist",
                        F.levenshtein(F.substring(F.col("term"), 1, n),
                                      F.lit(prefix)))
            .where(F.col("dist") <= int(fuzziness)))
    return (cand.select("term", "df", F.col("dist").cast("int").alias("dist"))
            .orderBy(F.col("dist").asc(), F.col("df").desc(),
                     F.col("term").asc())
            .limit(size))


def _regex_literal_head(pattern: str) -> str:
    """Leading literal characters of a regex (up to the first
    metacharacter) — the sargable prefix guard for a regex completion."""
    out = []
    for ch in pattern:
        if ch in "\\^$.|?*+()[]{}":
            break
        out.append(ch)
    # a trailing literal before a quantifier may match 0 times — drop it
    rest = pattern[len(out):]
    if out and rest[:1] in ("?", "*", "{"):
        out.pop()
    # a top-level unescaped '|' means the accumulated head only covers the
    # FIRST alternation branch ('scan|term' must not pre-filter to 'scan');
    # '|' inside a group is fine because the head already stopped at '('
    depth, esc = 0, False
    for ch in rest:
        if esc:
            esc = False
        elif ch == "\\":
            esc = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            return ""
    return "".join(out)


def suggest_completion_regex(ix, regex: str, size: int = 5) -> DataFrame:
    """Completion suggester REGEX mode
    (sv/search/suggest/completion/RegexOptions.java / Lucene
    RegexCompletionQuery): a suggestion matches when the regex matches a
    PREFIX of it — the compiled automaton is anchored at the start of
    the suggestion, so `term RLIKE '^(?:regex)'` is the exact predicate.
    Ranked df desc then term asc like the prefix walk.

    Plan shape: the regex's literal head (chars before the first
    metacharacter) becomes a sargable startswith guard on the sorted
    term dictionary — parquet min/max prunes row groups before the JVM
    rlike evaluates."""
    cand = ix.stats.select("term", F.col("df").cast("long").alias("df"))
    head = _regex_literal_head(regex)
    if head:
        cand = cand.where(F.col("term").startswith(head))
    cand = cand.where(F.col("term").rlike("^(?:" + regex + ")"))
    return (cand.orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(size))


def term_vectors(ix, pages: DataFrame, docid: int) -> DataFrame:
    """`_termvectors` API: (term, tf, positions) for one doc, generated on
    the fly by re-analyzing the stored source text — the reference's
    behavior when vectors aren't stored
    (sv/action/termvectors/TermVectorsService.java generates from
    _source). The doc fetch is a docid-pruned scan of the range-sorted
    docs table joined to its source page; the Arrow analyzer runs on that
    one row only."""
    from sparksearch.build import doc_postings_udf
    doc = (ix.docs.filter(F.col("docid") == int(docid))
           .select("docid", "url"))
    src = pages.select("url", "text").join(F.broadcast(doc), "url")
    tok = src.select(
        "docid", doc_postings_udf(ix.analyzer)(F.col("text")).alias("_tv"))
    return (tok.select(F.explode("_tv.entries").alias("e"))
            .select(F.col("e.term").alias("term"),
                    F.col("e.tf").cast("long").alias("tf"),
                    F.col("e.positions").alias("positions"))
            .orderBy("term"))


def term_vectors_many(ix, pages: DataFrame, docids: list) -> DataFrame:
    """`_mtermvectors` (TransportMultiTermVectorsAction): per-doc
    (docid, term, tf, positions) for EVERY requested doc from ONE plan —
    a docid-isin-pruned docs scan broadcast-joined to its source pages,
    the Arrow analyzer running only on those rows; the batch is one
    Spark job, not one per doc."""
    from sparksearch.build import doc_postings_udf
    ids = [int(d) for d in docids]
    doc = (ix.docs.filter(F.col("docid").isin(ids))
           .select("docid", "url"))
    src = pages.select("url", "text").join(F.broadcast(doc), "url")
    tok = src.select(
        "docid", doc_postings_udf(ix.analyzer)(F.col("text")).alias("_tv"))
    return (tok.select("docid", F.explode("_tv.entries").alias("e"))
            .select("docid",
                    F.col("e.term").alias("term"),
                    F.col("e.tf").cast("long").alias("tf"),
                    F.col("e.positions").alias("positions"))
            .orderBy("docid", "term"))


def explain_many(ex, q, docids: list) -> DataFrame:
    """Batched `_explain`: per-term BM25 breakdown rows for EVERY doc in
    `docids` from ONE plan (docid isin over the query-term-pruned
    postings scan) — the whole explain section of a `size`-hit response
    is a single Spark job instead of one per hit
    (sv/action/explain/TransportExplainAction.java is per-doc; a search
    response's explain:true annotates every hit, so the batch is the
    natural unit).

    Dispatch: match → the classic per-term rows (schema unchanged);
    match_phrase → one pseudo-term row per doc (tf = phrase frequency,
    idf = Σ member idfs — Lucene PhraseWeight.explain);
    bool → the per-clause union with a `clause` label column (Lucene's
    "sum of:" subtree, flattened).  Anything else raises loudly — term
    queries here are keyword/docvalue filters with no postings entry, so
    a BM25 "explanation" would be fabricated."""
    from sparksearch.queries import Bool as _Bool
    from sparksearch.queries import Match as _Match
    from sparksearch.queries import MatchPhrase as _Phrase
    if isinstance(q, _Match):
        return _explain_match(ex, q, docids)
    if isinstance(q, _Phrase):
        return _explain_phrase(ex, q, docids)
    if isinstance(q, _Bool):
        return _explain_bool(ex, q, docids)
    raise ValueError(
        "explain supports match / match_phrase / bool queries; "
        f"got {type(q).__name__}")


def _explain_match(ex, q, docids: list) -> DataFrame:
    from collections import Counter

    from sparksearch.analysis import analyze
    ix = ex.ix
    terms = [t for t, _ in analyze(q.text, q.analyzer or ix.search_analyzer)]
    cnt = Counter(terms)
    return _explain_terms(ex, {t: float(c) for t, c in cnt.items()}, docids)


def _explain_terms(ex, weights: dict, docids: list) -> DataFrame:
    """Core per-term breakdown shared by match / term / bool clauses:
    `weights` maps term → clause weight (duplicate-occurrence count for
    match). Each row is the kernel's row value under the executor's BM25
    (k1, b): idf as bm25.py defines it, tfn = (k1+1)·bm25.tfn, and
    contribution = weight·(idf·(k1+1))·bm25.tfn, so a doc's contributions
    sum to its hit score up to the 6-decimal rounding."""
    from sparksearch import bm25
    from sparksearch.exec import _bm25_scores, _term_lookup
    ex._require_bm25("explain")
    ix = ex.ix
    ids = [int(d) for d in docids]
    stats = ix.stats_for(list(weights))
    p = (ix.postings_for(sorted(stats))
         .filter(F.col("docid").isin(ids)))
    w = _term_lookup({t: float(c) for t, c in weights.items()})
    idf = _term_lookup({t: bm25.idf(v[0], ix.n_docs)
                        for t, v in stats.items()})
    k1, b = ex.sim.k1, ex.sim.b
    tfn = bm25.tfn(F.col("tf").cast("double"), F.col("dl_q").cast("double"),
                   float(ix.avgdl), k1, b)
    return (p.select("docid", "term",
                    F.col("tf").cast("long").alias("tf"),
                    _term_lookup({t: v[0] for t, v in stats.items()})
                    .cast("long").alias("df"),
                    F.round(idf, 6).alias("idf"),
                    F.round(F.lit(k1 + 1.0) * tfn, 6).alias("tfn"),
                    w.alias("weight"),
                    F.round(w * _bm25_scores(stats, ix.n_docs, ix.avgdl,
                                             k1, b), 6)
                    .alias("contribution"))
            .orderBy("docid", "term"))


def _explain_phrase(ex, q, docids: list, weight: float = 1.0) -> DataFrame:
    """match_phrase explanation: one pseudo-term row per doc —
    term = the phrase text, tf = (sloppy) phrase frequency (double),
    df = NULL, idf = Σ member idfs — Lucene PhraseWeight.explain's
    "phraseFreq" / "idf, sum of" breakdown, flattened."""
    from sparksearch import bm25
    from sparksearch.analysis import analyze
    ex._require_bm25("explain")
    ix = ex.ix
    ptoks = analyze(q.text, q.analyzer or ix.search_analyzer)
    terms = [t for t, _ in ptoks]
    if not terms:
        raise ValueError("explain over an empty phrase")
    if len({p for _, p in ptoks}) != len(ptoks):
        raise NotImplementedError(
            "explain over a synonym-stacked multi-phrase is not supported")
    if len(terms) == 1:
        from sparksearch.queries import Match as _Match
        base = _explain_match(
            ex, _Match(q.field_name, q.text, analyzer=q.analyzer), docids)
        return base.withColumn("tf", F.col("tf").cast("double"))
    ids = [int(d) for d in docids]
    joined = (ex._phrase_freq_sloppy(terms, q.slop) if q.slop > 0
              else ex._phrase_freq_exact(terms)) \
        .filter(F.col("docid").isin(ids))
    stats = ix.stats_for(terms)
    sum_idf = sum(bm25.idf(stats[t][0], ix.n_docs)
                  for t in sorted(terms) if t in stats)
    tfn = ex._tfn(F.col("pf"), F.col("dl_q"))
    return (joined
            .select("docid",
                    F.lit(q.text).alias("term"),
                    F.col("pf").cast("double").alias("tf"),
                    F.lit(None).cast("long").alias("df"),
                    F.round(F.lit(sum_idf), 6).alias("idf"),
                    F.round(F.lit(ex.sim.k1 + 1.0) * tfn, 6)
                    .alias("tfn"),
                    F.lit(float(weight)).alias("weight"),
                    F.round(F.lit(float(weight))
                            * (F.lit(ex._phrase_weight(terms)) * tfn),
                            6).alias("contribution"))
            .orderBy("docid"))


def _explain_bool(ex, q, docids: list) -> DataFrame:
    """bool explanation: the per-clause union with a `clause` label —
    Lucene's BooleanWeight "sum of:" subtree flattened into rows.  Only
    SCORING clauses (must / should) produce rows; filter and must_not
    clauses contribute no score (filter context) and the given docids
    already passed them.  tf is double so match and phrase clause rows
    union cleanly.  Unsupported scoring clause types raise loudly."""
    from sparksearch.queries import Match as _Match
    from sparksearch.queries import MatchPhrase as _Phrase
    frames = []
    for label, clauses in (("must", q.must), ("should", q.should)):
        for i, c in enumerate(clauses):
            if isinstance(c, _Match):
                f = _explain_match(ex, c, docids)
                tag = f"{label}[{i}]:match({c.field_name}:{c.text})"
            elif isinstance(c, _Phrase):
                f = _explain_phrase(ex, c, docids)
                tag = f"{label}[{i}]:match_phrase({c.field_name}:{c.text})"
            else:
                raise NotImplementedError(
                    "bool explain: unsupported scoring clause "
                    f"{type(c).__name__}")
            frames.append(f.withColumn("tf", F.col("tf").cast("double"))
                          .withColumn("clause", F.lit(tag)))
    if not frames:
        raise ValueError("bool explain: no scoring clauses (must/should)")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return (out.select("docid", "clause", "term", "tf", "df", "idf",
                       "tfn", "weight", "contribution")
            .orderBy("docid", "clause", "term"))


def explain(ex, q, docid: int) -> DataFrame:
    """`_explain` API: per-term BM25 score breakdown for one doc —
    (term, tf, df, idf, tfn, contribution) rows plus the clause weight,
    mirroring Lucene's Explanation tree for match / match_phrase / bool
    queries (sv/action/explain/TransportExplainAction.java).
    One-doc wrapper of explain_many."""
    return explain_many(ex, q, [docid]).drop("docid")


def highlight_fragments(topk: DataFrame, pages: DataFrame,
                        terms: list[str], fragment_size: int = 100,
                        number_of_fragments: int = 2,
                        pre: str = "<em>",
                        post: str = "</em>",
                        no_match_size: int = 0,
                        order: str = "none") -> DataFrame:
    """Fragmenting highlighter: fixed-size char windows of the highlighted
    text ranked by match count, top N per hit — the snippet form users
    actually see (sv/search/fetch/subphase/highlight — the unified
    highlighter's passage scoring, with a simple fixed-window fragmenter
    instead of Lucene's sentence boundary scanner).

    Options mirroring AbstractHighlighterBuilder:
    - ``fragment_size`` / ``number_of_fragments``: window width / top-N.
    - ``no_match_size``: a hit whose text contains NO query term still
      gets one untagged leading snippet of that many chars (frag_idx 0,
      n_matches 0) — the reference returns the field's leading text.
    - ``order``: 'none' keeps document order within a hit; 'score' sorts
      a hit's fragments by match count desc (HighlightBuilder order=score).

    All Catalyst exprs: one regexp pass, a transform over window offsets,
    explode + per-doc top-N window. Returns (docid, url, score, frag_idx,
    fragment, n_matches) — frag_idx is the window's position order.
    """
    import re as _re
    pat = r"\b(" + "|".join(_re.escape(t) for t in sorted(set(terms))) + r")\b"
    fetched = pages.select("url", "text").join(F.broadcast(topk), "url")
    h = F.regexp_replace(F.col("text"), pat, f"{pre}$1{post}")
    hl = fetched.withColumn("_h", h)
    sz = int(fragment_size)
    nwin = F.greatest(F.lit(1),
                      F.ceil(F.length("_h") / sz)).cast("int")
    frags = hl.select(
        "docid", "url", "score",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), nwin - 1),
                        lambda i: F.substring(
                            F.col("_h"), i * sz + 1, sz)))
        .alias("frag_idx", "fragment"))
    n_matches = ((F.length("fragment")
                  - F.length(F.replace(F.col("fragment"), F.lit(pre),
                                       F.lit(""))))
                 / len(pre)).cast("int")
    scored = frags.withColumn("n_matches", n_matches) \
                  .filter(F.col("n_matches") > 0)
    w = Window.partitionBy("docid").orderBy(
        F.col("n_matches").desc(), F.col("frag_idx").asc())
    out = (scored.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= number_of_fragments).drop("_rn"))
    if no_match_size > 0:
        # hits with zero matching fragments: one untagged leading snippet
        nm = (hl.join(out.select("docid").distinct(), "docid", "left_anti")
              .select("docid", "url", "score",
                      F.lit(0).alias("frag_idx"),
                      F.substring(F.col("text"), 1,
                                  int(no_match_size)).alias("fragment"),
                      F.lit(0).cast("int").alias("n_matches")))
        out = out.unionByName(nm)
    within = ([F.col("n_matches").desc(), F.col("frag_idx").asc()]
              if order == "score" else [F.col("frag_idx").asc()])
    return out.orderBy(F.col("score").desc(), F.col("docid").asc(), *within)


def highlight_fvh(ex, topk: DataFrame, pages: DataFrame,
                  terms: list[str], fragment_size: int = 80,
                  number_of_fragments: int = 2,
                  pre: str = "<em>", post: str = "</em>") -> DataFrame:
    """Fast-vector-highlighter analogue: fragments are driven by the
    INDEX's stored postings positions, not by re-scanning the fetched
    text (sv/search/fetch/subphase/highlight/FastVectorHighlighter.java
    builds FieldPhraseList from stored term vectors; here the postings
    ARE the term vectors — term_vectors() generates the same rows).

    Plan shape: one term-pruned postings scan semi-joined to the k-row
    hit list (broadcast), positions collected per doc (k rows ×
    per-doc tf — bounded by the hit count, never corpus-sized), then the
    fragment build is pure Catalyst array algebra over the fetched text.
    The regex highlighter (`highlight`) rescans text for matches; at a
    100 TB corpus both touch only the k fetched pages, but this form
    never re-runs the analyzer, exactly FVH's trade.

    Fragment semantics (SimpleFragListBuilder analogue): greedy anchor
    selection over the sorted match positions — a match starts a new
    fragment unless it falls within the previous fragment's window —
    then each anchor yields a ±W-word window (W = fragment_size // 16,
    ~8 chars/word) with every query-term occurrence inside it tagged.

    Position contract: the analyzer chain must be position-preserving
    over whitespace tokens (true for the standard chain on this corpus:
    token i IS word i of the text). Chains with stopword holes or graph
    expansion would need stored char offsets in the postings — that
    variant stores (start, end) per position at build time; same plan
    otherwise.

    Returns (docid, url, score, frag_idx, fragment, n_matches).
    """
    uniq = sorted(set(terms))
    w_half = max(1, int(fragment_size) // 16)
    merge_gap = 2 * w_half
    hits = topk.select("docid", "url", "score")
    mpos = (ex.ix.postings_for(uniq)
            .join(F.broadcast(hits.select("docid")), "docid")
            .select("docid", F.explode("positions").alias("p"))
            .groupBy("docid")
            .agg(F.sort_array(F.collect_set("p")).alias("mpos")))
    fetched = (pages.select("url", "text").join(F.broadcast(hits), "url")
               .join(F.broadcast(mpos), "docid"))
    words = F.split(F.col("text"), " ")
    tagged = F.transform(
        words,
        lambda x, i: F.when(F.array_contains(F.col("mpos"), i),
                            F.concat(F.lit(pre), x, F.lit(post)))
                      .otherwise(x))
    anchors = F.slice(
        F.aggregate(
            "mpos", F.expr("cast(array() as array<int>)"),
            lambda acc, p: F.when(
                (F.size(acc) == 0)
                | (p - F.element_at(acc, -1) > merge_gap),
                F.concat(acc, F.array(p))).otherwise(acc)),
        1, int(number_of_fragments))
    rows = (fetched
            .withColumn("_w", tagged)
            .withColumn("_nw", F.size("_w"))
            .select("docid", "url", "score", "mpos", "_w", "_nw",
                    F.posexplode(anchors).alias("frag_idx", "anchor")))
    start = F.greatest(F.lit(1), F.col("anchor") + 1 - w_half)  # 1-based
    end = F.least(F.col("_nw"), F.col("anchor") + 1 + w_half)
    frag = F.concat_ws(
        " ", F.slice(F.col("_w"), start, end - start + F.lit(1)))
    n_matches = F.size(F.filter(
        "mpos", lambda p: (p + 1 >= start) & (p + 1 <= end)))
    return (rows.select(
                "docid", "url", "score",
                F.col("frag_idx").cast("int").alias("frag_idx"),
                frag.alias("fragment"),
                n_matches.cast("int").alias("n_matches"))
            .orderBy(F.col("score").desc(), F.col("docid").asc(),
                     F.col("frag_idx").asc()))


def phrase_positions(ex, docids_df: DataFrame,
                     phrase_terms: list[str]) -> DataFrame:
    """Start positions of exact phrase occurrences per doc, from the
    INDEX's stored positions only (FieldPhraseList: consecutive term
    positions chain into phrase matches — FastVectorHighlighter.java's
    core structure). One term-pruned postings scan, semi-joined to the
    hit list; the adjacency intersection is Catalyst array algebra
    (arrays shifted by the member's phrase offset, array_intersect
    folded across members). Returns (docid, ppos: array<int>).
    """
    n = len(phrase_terms)
    if n == 0:
        raise ValueError("empty phrase")
    post = (ex.ix.postings_for(sorted(set(phrase_terms)))
            .join(F.broadcast(docids_df.select("docid")), "docid"))
    # per member i: positions shifted to the phrase START (pos - i)
    legs = []
    for i, t in enumerate(phrase_terms):
        legs.append(
            post.where(F.col("term") == t)
            .select("docid",
                    F.transform("positions",
                                lambda p: p - F.lit(i)).alias(f"_p{i}")))
    cur = legs[0]
    for i in range(1, n):
        cur = (cur.join(legs[i], "docid")
               .select("docid",
                       F.array_intersect(F.col("_p0"), F.col(f"_p{i}"))
                       .alias("_p0")))
        cur = cur.where(F.size("_p0") > 0)
    return cur.select("docid", F.sort_array("_p0").alias("ppos"))


def highlight_fvh_phrase(ex, topk: DataFrame, pages: DataFrame,
                         phrase_terms: list[str],
                         fragment_size: int = 80,
                         number_of_fragments: int = 2,
                         pre: str = "<em>",
                         post: str = "</em>") -> DataFrame:
    """FVH for a phrase query: fragments anchor at PHRASE occurrences
    (not bare term hits) and the whole phrase span is tagged as one
    unit — Lucene FVH's phrase-aware highlighting, driven entirely by
    stored positions (FastVectorHighlighter.java FieldPhraseList →
    WeightedPhraseInfo spans). Same plan/cost shape as highlight_fvh.

    Returns (docid, url, score, frag_idx, fragment, n_matches)."""
    n = len(phrase_terms)
    w_half = max(1, int(fragment_size) // 16)
    merge_gap = 2 * w_half + n - 1
    hits = topk.select("docid", "url", "score")
    mpos = phrase_positions(ex, hits, phrase_terms) \
        .withColumnRenamed("ppos", "mpos")
    fetched = (pages.select("url", "text").join(F.broadcast(hits), "url")
               .join(F.broadcast(mpos), "docid"))
    words = F.split(F.col("text"), " ")
    # tag the phrase span as a unit: open before word at a start
    # position, close after the start+n-1 word
    tagged = F.transform(
        words,
        lambda x, i: F.concat(
            F.when(F.array_contains(F.col("mpos"), i), F.lit(pre))
             .otherwise(F.lit("")),
            x,
            F.when(F.array_contains(F.col("mpos"), i - (n - 1)),
                   F.lit(post)).otherwise(F.lit(""))))
    anchors = F.slice(
        F.aggregate(
            "mpos", F.expr("cast(array() as array<int>)"),
            lambda acc, p: F.when(
                (F.size(acc) == 0)
                | (p - F.element_at(acc, -1) > merge_gap),
                F.concat(acc, F.array(p))).otherwise(acc)),
        1, int(number_of_fragments))
    rows = (fetched
            .withColumn("_w", tagged)
            .withColumn("_nw", F.size("_w"))
            .select("docid", "url", "score", "mpos", "_w", "_nw",
                    F.posexplode(anchors).alias("frag_idx", "anchor")))
    start = F.greatest(F.lit(1), F.col("anchor") + 1 - w_half)
    end = F.least(F.col("_nw"),
                  F.col("anchor") + 1 + w_half + F.lit(n - 1))
    frag = F.concat_ws(
        " ", F.slice(F.col("_w"), start, end - start + F.lit(1)))
    n_matches = F.size(F.filter(
        "mpos",
        lambda p: (p + 1 >= start) & (p + F.lit(n) <= end)))
    return (rows.select(
                "docid", "url", "score",
                F.col("frag_idx").cast("int").alias("frag_idx"),
                frag.alias("fragment"),
                n_matches.cast("int").alias("n_matches"))
            .orderBy(F.col("score").desc(), F.col("docid").asc(),
                     F.col("frag_idx").asc()))
