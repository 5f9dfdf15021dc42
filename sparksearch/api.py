"""The `_search` request-body API: one JSON body in, hits + aggregations out.

This is the top-level surface a reference user actually calls
(sv/rest/action/search/RestSearchAction.java →
sv/search/builder/SearchSourceBuilder.java): everything the engine
already implements — query DSL, sort, from/size, search_after,
min_score, _source filtering, highlight — driven from the single body
dict, plus an `aggs` sub-body routed to the aggregation operators.

Two shapes:
- ``search_df(ex, body)`` → the hits as a DataFrame (the oracle-gated
  form; stays lazy, sort+limit compiles to TakeOrderedAndProject).
- ``run_search(ex, body)`` → the familiar response envelope
  ``{hits: {total, max_score, hits: [{_id, _score, _source}...]},
  aggregations: {...}}`` — a driver-side collect bounded by `size`.
- ``aggs_df(ex, body)`` → one top-level agg as a bucket DataFrame.

Supported body keys: query, size, from, sort (field / ``_score`` /
``_doc`` / ``_script``, asc/desc, ``mode`` over multi-valued array
fields — sortmode.py MultiValueMode), search_after, min_score, rescore
(windowed QueryRescorer re-rank), script_fields + runtime_mappings
(Painless-subset → Catalyst columns), docvalue_fields, post_filter
(hits only —
aggs deliberately don't see it), track_total_hits (True=exact /
int cap, default 10,000), collapse (best hit per field group, optional inner_hits
expansion),
highlight (pre/post tags over analyzed query terms; needs the raw
corpus passed as `pages`), explain (per-hit BM25 Explanation tree,
match queries), suggest (term / phrase / completion suggesters), profile
(per-phase driver timings + the executed physical plan),
_source (bool / includes / excludes), aggs
(terms / histogram / date_histogram / range / filters buckets; metric
leaves avg/sum/min/max/value_count/cardinality/weighted_avg/stats/
extended_stats/percentiles; metric sub-aggs plus one nested bucket
level; scoped to the body's query in filter context).

Sibling endpoints: ``count_api`` (_count) and ``mget`` (_mget).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.dsl import from_dsl
from sparksearch.queries import MatchAll

__all__ = ["search_df", "run_search", "aggs_df", "count_api", "mget"]

_SCORE_4 = lambda c: F.round(c, 4)

#: every body key the API honors; anything else is REJECTED up front —
#: the reference does the same (SearchSourceBuilder.fromXContent throws
#: ParsingException on unknown fields), and silently ignoring a key the
#: user meant (a typo'd `agg`, an unsupported `pit`) is a wrong-answer
#: trap worse than an error
_BODY_KEYS = frozenset({
    "query", "size", "from", "sort", "search_after", "min_score",
    "rescore", "post_filter", "track_total_hits", "track_scores",
    "collapse", "highlight", "explain", "suggest", "profile", "_source",
    "aggs", "aggregations", "script_fields", "runtime_mappings",
    "docvalue_fields", "fields", "terminate_after",
    # accepted for drop-in body compatibility:
    # - timeout: a best-effort latency bound in the reference
    #   (QueryPhase checks a timer between segments); a batch Spark job
    #   has no mid-query cancellation point, so it is recorded and the
    #   response reports timed_out=false — a documented no-op, never a
    #   silent behavior change
    # - stored_fields: this engine's docs table IS the stored-fields
    #   store, so the key routes through the same doc-column fetch as
    #   docvalue_fields
    "timeout", "stored_fields",
})


def _check_body(body: dict) -> None:
    unknown = set(body) - _BODY_KEYS
    if unknown:
        raise ValueError(f"unknown _search body keys: {sorted(unknown)} "
                         f"(supported: {sorted(_BODY_KEYS)})")


def _parse_sort(spec) -> list[tuple[str, bool, object]]:
    """body `sort` → [(field, asc, missing)]; defaults to relevance
    order. ``missing`` follows FieldSortBuilder: "_last" (default —
    docs without the field sort last regardless of direction),
    "_first", or a literal substitute value. Note Spark's bare asc()
    is nulls-FIRST, so the default must be spelled explicitly."""
    if not spec:
        return [("_score", False, "_last"), ("_doc", True, "_last")]
    out: list[tuple[str, bool, object]] = []
    for s in (spec if isinstance(spec, list) else [spec]):
        if isinstance(s, str):
            out.append((s, s != "_score", "_last"))
        else:
            (field, opts), = s.items()
            if isinstance(opts, dict):
                order = opts.get("order", "asc")
                missing = opts.get("missing", "_last")
            else:
                order, missing = opts, "_last"
            out.append((field, order != "desc", missing))
    if not any(f in ("_doc", "docid") for f, _, _ in out):
        # total order for stable pagination
        out.append(("_doc", True, "_last"))
    return out


def _sort_col(field: str):
    if field == "_score":
        return F.col("score")
    if field == "_doc":
        return F.col("docid")
    return F.col(field)


def _order_col(field: str, asc: bool, missing):
    """One sort expression honoring the `missing` policy
    (FieldSortBuilder: _last default / _first / literal substitute)."""
    c = _sort_col(field)
    if missing not in ("_first", "_last"):
        c = F.coalesce(c, F.lit(missing))
        return c.asc() if asc else c.desc()
    if asc:
        return (c.asc_nulls_first() if missing == "_first"
                else c.asc_nulls_last())
    return (c.desc_nulls_first() if missing == "_first"
            else c.desc_nulls_last())


def _query_texts(node, field: str | None = None) -> list[str]:
    """Fulltext query strings inside a body query dict (for
    highlighting). ``field`` restricts to clauses targeting that field
    (require_field_match=true semantics); multi_match counts as
    targeting every listed field."""
    out: list[str] = []
    if isinstance(node, dict):
        for k, v in node.items():
            if k in ("match", "match_phrase", "match_phrase_prefix",
                     "match_bool_prefix"):
                (f, spec), = v.items()
                if field is None or f == field:
                    out.append(spec["query"] if isinstance(spec, dict)
                               else str(spec))
            elif k == "multi_match":
                flds = [str(f).split("^")[0]
                        for f in v.get("fields", [])]
                if field is None or not flds or field in flds:
                    out.append(str(v.get("query", "")))
            else:
                out.extend(_query_texts(v, field))
    elif isinstance(node, list):
        for x in node:
            out.extend(_query_texts(x, field))
    return out


def _is_vector_query(qdsl) -> bool:
    return isinstance(qdsl, dict) and ("knn" in qdsl or "hybrid" in qdsl)


def _plan_vector_body(ex, qdsl: dict, emb: DataFrame) -> DataFrame:
    """Plan a `knn` or `hybrid` body query to a BOUNDED (docid, score)
    frame.

    knn (k-NN plugin query shape ``{"knn": {field: {"vector", "k",
    "space_type", "filter"}}}``; the plugin lives outside the reference
    core repo): scores every vector against the literal query vector
    JVM-side, takes top-k, then broadcast-joins the ≤k winners to the
    docs table through the url→vec_id bridge. With a `filter` the
    allowed vec_ids are semi-joined BEFORE the top-k (the plugin's
    filtered-search path), so the limit never starves.

    hybrid (neural-search hybrid query + the RRF score processor):
    each sub-query retrieves its own top-`pagination_depth` pool —
    lexical legs through the BM25 engine, knn legs as above — and the
    pools are rank-fused (score = Σ 1/(rank_constant + rank)).
    """
    if emb is None:
        raise ValueError("knn/hybrid queries need the embeddings frame "
                         "(emb=)")
    from sparksearch.dataops import knn_vector_scores
    from sparksearch.hybrid import _doc_id_of_url, rrf_fuse
    if "knn" in qdsl:
        (field, spec), = qdsl["knn"].items()
        k = int(spec.get("k", 10))
        vec_col = field if field in emb.columns else "embedding"
        id_col = "vec_id" if "vec_id" in emb.columns else emb.columns[0]
        sc = knn_vector_scores(emb, spec["vector"],
                               spec.get("space_type", "cosinesimil"),
                               id_col=id_col, vec_col=vec_col)
        bridge = ex.ix.docs.select(
            "docid", _doc_id_of_url(F.col("url")).alias(id_col))
        if "filter" in spec:
            allowed = (ex._plan(from_dsl(spec["filter"]), scored=False)
                       .select("docid"))
            bridge = bridge.join(allowed, "docid", "left_semi")
            top = (sc.join(bridge, id_col)
                   .orderBy(F.col("score").desc(), F.col("docid").asc())
                   .limit(k).select("docid", "score"))
        else:
            top = (sc.orderBy(F.col("score").desc(),
                              F.col(id_col).asc()).limit(k))
            top = (bridge.join(F.broadcast(top), id_col)
                   .select("docid", "score")
                   .orderBy(F.col("score").desc(), F.col("docid").asc()))
        return top
    hy = qdsl["hybrid"]
    pool = int(hy.get("pagination_depth", 50))
    rrf_k = int(hy.get("rank_constant", 60))
    legs = []
    for sub in hy["queries"]:
        if _is_vector_query(sub):
            legs.append(_plan_vector_body(ex, sub, emb))
        else:
            legs.append(ex._plan(from_dsl(sub), scored=True)
                        .orderBy(F.col("score").desc(),
                                 F.col("docid").asc()).limit(pool))
    # fusion technique: RRF by default; a `normalization`/`combination`
    # block (the search-pipeline normalization-processor config, inlined
    # into the body) switches to score-normalization fusion
    if "normalization" in hy or "combination" in hy:
        from sparksearch.hybrid import normalize_fuse
        comb = hy.get("combination", {})
        params = comb.get("parameters", {})
        return normalize_fuse(
            legs,
            normalization=hy.get("normalization", {}).get("technique",
                                                          "min_max"),
            combination=comb.get("technique", "arithmetic_mean"),
            weights=params.get("weights"),
            top_n=pool, key="docid")
    return rrf_fuse(legs, rrf_k=rrf_k, top_n=pool, key="docid")


def _sorted_scan_cond(ex, body, q, sort, needs_score, script_sorts,
                      is_vec):
    """Index-sort early-termination gate (the reference's
    TopDocsCollectorContext#canEarlyTerminate): when the body sorts by
    the index_sort field (docid tie-break only), nothing needs a score,
    and the query is pure filter context over doc values, return the
    filter Column — the hits then come from `sortedscan.sorted_topk`'s
    manifest-pruned file prefix instead of a full docs scan. A primary
    sort with a non-default `missing` policy takes the full plan."""
    isort = ex.ix.meta.get("index_sort")
    if (not isort or is_vec or needs_score or script_sorts
            or ex.ix._runtime or not body.get("sort")):
        return None
    if any(k in body for k in (
            "search_after", "collapse", "rescore", "terminate_after",
            "post_filter", "highlight", "min_score", "script_fields")):
        return None
    (pf, _asc, missing), rest = sort[0], sort[1:]
    # the file prefix ranks by raw build order: a non-default missing
    # policy would place null-valued docs elsewhere
    if pf != isort["field"] or missing != "_last":
        return None
    if any(f not in ("_doc", "docid") or not asc
           for f, asc, _m in rest):
        return None
    return ex.docvalue_only_cond(q)


def search_df(ex, body: dict, pages: DataFrame | None = None,
              emb: DataFrame | None = None) -> DataFrame:
    """Execute a `_search` body; returns (docid, url, score, <sort and
    _source fields>) ordered per the body's sort, offset by `from`.
    `pages` (the raw corpus) is only needed when the body asks for
    `highlight` — the docs table deliberately doesn't carry source text.
    `emb` (the embeddings frame) is only needed for knn/hybrid queries."""
    body = dict(body)
    if "aggregations" in body:
        body["aggs"] = body.pop("aggregations")
    _check_body(body)
    if "runtime_mappings" in body:
        # script-derived columns inlined into the same docs scan — the
        # derived Executor plans them identically to stored fields
        from sparksearch.exec import Executor
        srcs = {f: (m["script"]["source"] if isinstance(m, dict)
                    and "script" in m else m)
                for f, m in body["runtime_mappings"].items()}
        ex = Executor(ex.ix.with_runtime(srcs), fixed_now=ex.fixed_now)
    is_vec = _is_vector_query(body.get("query"))
    q = (MatchAll() if "query" not in body
         else None if is_vec else from_dsl(body["query"]))
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))

    script_sorts: dict = {}   # placeholder name -> CompiledScript
    sort_spec = body.get("sort")
    if sort_spec:
        from sparksearch.painless import compile_script
        rewritten = []
        for i, s in enumerate(sort_spec if isinstance(sort_spec, list)
                              else [sort_spec]):
            if isinstance(s, dict) and "_script" in s:
                sc = s["_script"]
                comp = compile_script(sc["script"]["source"],
                                      sc["script"].get("params"))
                nm = f"_script_{i}"
                script_sorts[nm] = comp
                rewritten.append({nm: {"order": sc.get("order", "asc")}})
            elif (isinstance(s, dict) and len(s) == 1
                    and isinstance(next(iter(s.values())), dict)
                    and "mode" in next(iter(s.values()))):
                # sort_mode over a multi-valued (array) field: reduce to
                # one key per MultiValueMode (sortmode.py) through the
                # same placeholder mechanism as script sorts
                from sparksearch.sortmode import mode_sort_key
                (fld, opts), = s.items()
                nm = f"_mode_{i}"
                # integer array fields follow the reference's long pick
                # path (median rounds the even-count mid-pair average)
                integral = False
                if fld in ex.ix.docs.columns:
                    dt = ex.ix.docs.schema[fld].dataType
                    et = getattr(dt, "elementType", None)
                    integral = et is not None and et.typeName() in (
                        "byte", "short", "integer", "long")
                script_sorts[nm] = mode_sort_key(fld, opts["mode"],
                                                 integral=integral)
                rewritten.append({nm: {"order": opts.get("order", "asc")}})
            else:
                rewritten.append(s)
        sort_spec = rewritten
    sort = _parse_sort(sort_spec)
    # track_scores: compute scores even under a field sort
    # (sv/search/fetch/subphase/FetchScorePhase.java)
    needs_score = any(f == "_score" for f, *_ in sort) \
        or "min_score" in body or not body.get("sort") \
        or bool(body.get("track_scores"))

    sorted_cond = _sorted_scan_cond(ex, body, q, sort, needs_score,
                                    script_sorts, is_vec)
    scored = (None if sorted_cond is not None
              else _plan_vector_body(ex, body["query"], emb) if is_vec
              else ex._plan(q, scored=needs_score))
    if body.get("terminate_after"):
        # collection stops after N docs IN DOC ORDER (Lucene collects per
        # segment in docid order and throws EarlyTerminationException);
        # top-k then ranks only the collected prefix
        scored = (scored.orderBy(F.col("docid").asc())
                  .limit(int(body["terminate_after"])))
    if "min_score" in body:
        scored = scored.filter(
            F.col("score") >= float(body["min_score"]))
    if "rescore" in body:
        # QueryRescorer: total = qw·primary + rw·secondary over the top
        # `window_size` primary hits; pagination must fit in the window
        rs = body["rescore"]
        if body.get("sort"):
            # the reference rejects this outright (SearchService: "Cannot
            # use [sort] option in conjunction with [rescore]")
            raise ValueError("rescore cannot combine with explicit sort")
        window = int(rs.get("window_size", 10))
        if from_ + size > window:
            raise ValueError("from+size exceeds the rescore window")
        rq = from_dsl(rs["query"]["rescore_query"])
        qw = float(rs["query"].get("query_weight", 1.0))
        rw = float(rs["query"].get("rescore_query_weight", 1.0))
        primary = (scored.orderBy(F.col("score").desc(),
                                  F.col("docid").asc())
                   .limit(window))
        secondary = (ex._plan(rq, scored=True)
                     .select("docid", F.col("score").alias("_s2")))
        scored = (primary.join(secondary, "docid", "left")
                  .withColumn("score",
                              F.col("score") * qw
                              + F.coalesce(F.col("_s2"), F.lit(0.0)) * rw)
                  .drop("_s2"))
    if "post_filter" in body:
        # filters HITS only — aggs_df deliberately never sees it
        # (SearchSourceBuilder postFilter semantics)
        pf = ex._plan(from_dsl(body["post_filter"]),
                      scored=False).select("docid")
        scored = scored.join(pf, "docid", "left_semi")
    if scored is not None:
        scored = scored.select("docid",
                               _SCORE_4(F.col("score")).alias("score"))

    doc_fields = {f for f, *_ in sort
                  if f not in ("_score", "_doc") and f not in script_sorts}
    for comp in script_sorts.values():
        doc_fields |= comp.doc_fields
    if "collapse" in body:
        doc_fields.add(body["collapse"]["field"])
    # `fields` (FetchFieldsPhase) and `docvalue_fields` both force doc
    # columns into the fetch regardless of _source filtering
    for fk in ("docvalue_fields", "fields", "stored_fields"):
        doc_fields |= {f["field"] if isinstance(f, dict) else f
                       for f in body.get(fk, [])}
    sf_compiled: dict = {}
    if "script_fields" in body:
        from sparksearch.painless import compile_script
        for nm, spec in body["script_fields"].items():
            sc = spec["script"] if isinstance(spec, dict) else {"source": spec}
            comp = compile_script(sc["source"] if isinstance(sc, dict)
                                  else sc,
                                  sc.get("params") if isinstance(sc, dict)
                                  else None)
            sf_compiled[nm] = comp
            doc_fields |= comp.doc_fields
    src = body.get("_source", True)
    inc = exc = None
    if isinstance(src, dict):
        inc, exc = src.get("includes"), src.get("excludes")
    elif isinstance(src, list):
        inc = src
    keep_src: list[str] = []
    if src is not False:
        import fnmatch
        candidates = [c for c in ex.ix.docs.columns
                      if c not in ("docid", "url", "pday")]
        for c in candidates:
            if inc is not None and not any(fnmatch.fnmatch(c, p)
                                           for p in inc):
                continue
            if exc and any(fnmatch.fnmatch(c, p) for p in exc):
                continue
            keep_src.append(c)
    fetch_cols = ["docid", "url"] + sorted(doc_fields | set(keep_src))
    if sorted_cond is not None:
        # early-terminating sorted scan: hits straight from the pruned
        # file prefix; score 0.0 like every unscored filter-context plan
        from sparksearch.sortedscan import sorted_topk
        out = (sorted_topk(ex.ix, from_ + size, asc=sort[0][1],
                           filter_expr=sorted_cond)
               .select(*fetch_cols)
               .withColumn("score", F.lit(0.0)))
    else:
        d = ex.ix.docs.select(*fetch_cols)
        out = scored.join(d, "docid")
    for nm, comp in script_sorts.items():
        out = out.withColumn(nm, comp.col)
    for nm, comp in sf_compiled.items():
        # _score inside a script field resolves to the hit's score
        out = out.withColumn(nm, comp.col)

    order = [_order_col(f, asc, missing) for f, asc, missing in sort]
    if "collapse" in body:
        # one best hit per group, chosen by the body's sort order
        # (sv/search/collapse/CollapseBuilder.java)
        from pyspark.sql import Window
        cw = Window.partitionBy(body["collapse"]["field"]).orderBy(*order)
        out = (out.withColumn("_cr", F.row_number().over(cw))
               .filter(F.col("_cr") == 1).drop("_cr"))
    after = body.get("search_after")
    if after is not None:
        if from_:
            # reference: "`from` parameter must be set to 0 when
            # `search_after` is used" (SearchService validation)
            raise ValueError("search_after cannot combine with from")
        # keyset: strictly after the cursor in the order _order_col sorts
        # by (SearchAfterBuilder semantics). A literal `missing` replaces
        # nulls, the cursor's too; else nulls sort after every value
        # under "_last" and before every value under "_first"
        cond = F.lit(False)
        eqs = F.lit(True)
        for (f, asc, missing), v in zip(sort, after):
            c = _sort_col(f)
            if missing not in ("_first", "_last"):
                c = F.coalesce(c, F.lit(missing))
                v = missing if v is None else v
            if v is None:
                gt = c.isNotNull() if missing == "_first" else F.lit(False)
            else:
                gt = F.coalesce((c > F.lit(v)) if asc else (c < F.lit(v)),
                                F.lit(missing == "_last"))
            cond = cond | (eqs & gt)
            eqs = eqs & c.eqNullSafe(F.lit(v))
        out = out.filter(cond)

    out = out.orderBy(*order).limit(from_ + size)
    if from_:
        from pyspark.sql import Window
        w = Window.orderBy(*order)
        out = (out.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") > from_).drop("_rn"))
    if "highlight" in body:
        if pages is None:
            raise ValueError("highlight needs the raw corpus: "
                             "search_df(ex, body, pages=...)")
        import re
        from sparksearch.analysis import analyze
        hl = dict(body["highlight"])
        # per-field options block: {"fields": {"text": {...}}} — field
        # opts override the top level (HighlightBuilder inheritance)
        fld_opts = (hl.get("fields") or {}).get("text")
        if isinstance(fld_opts, dict):
            hl.update(fld_opts)
        # highlighter `type` is accepted for API parity: unified/plain/
        # fvh all run the one Catalyst fragmenting highlighter (the
        # reference's three differ in offset source — reanalysis vs
        # postings vs term vectors — not in result shape)
        hl_type = hl.get("type", "unified")
        if hl_type not in ("unified", "plain", "fvh"):
            raise ValueError(f"unknown highlighter type: {hl_type!r}")
        pre = (hl.get("pre_tags") or ["<em>"])[0]
        post = (hl.get("post_tags") or ["</em>"])[0]
        # require_field_match (default true): only clauses targeting the
        # highlighted field contribute terms
        hfield = "text" if hl.get("require_field_match", True) else None
        terms = sorted({t for txt in _query_texts(body.get("query", {}),
                                                  hfield)
                        for t, _ in analyze(txt, ex.ix.search_analyzer)})
        if terms and ("fragment_size" in hl
                      or "number_of_fragments" in hl):
            # snippet form: top-N fixed windows per hit, as an array
            from sparksearch.fetchops import highlight_fragments
            fr = highlight_fragments(
                out.select("docid", "url", "score"), pages, terms,
                int(hl.get("fragment_size", 100)),
                int(hl.get("number_of_fragments", 2)), pre, post,
                no_match_size=int(hl.get("no_match_size", 0)),
                order=str(hl.get("order", "none")))
            # order=score → fragments sorted by match count desc;
            # default keeps document (window) order within the hit
            first_key = ((-F.col("n_matches"))
                         if str(hl.get("order", "none")) == "score"
                         else F.col("frag_idx"))
            arr = (fr.groupBy("docid")
                   .agg(F.transform(
                       F.sort_array(F.collect_list(F.struct(
                           first_key.alias("k1"),
                           F.col("frag_idx").alias("fi"),
                           F.col("fragment").alias("fr")))),
                       lambda x: x["fr"]).alias("highlight")))
            out = (out.join(arr, "docid", "left")
                   .withColumn("highlight",
                               F.coalesce(F.col("highlight"),
                                          F.array().cast("array<string>")))
                   .orderBy(*order))
        elif terms:
            pat = r"\b(" + "|".join(re.escape(t) for t in terms) + r")\b"
            # out is ≤ from+size rows — broadcast it against the corpus
            out = (pages.select("url", "text")
                   .join(F.broadcast(out), "url")
                   .withColumn("highlight",
                               F.regexp_replace(F.col("text"), pat,
                                                f"{pre}$1{post}"))
                   .drop("text")
                   .orderBy(*order))
    # FieldAndFormat: a docvalue_fields/fields element given as
    # {"field": f, "format": fmt} returns the value FORMATTED (dates via
    # the Java-pattern date_format the reference also uses); sorting
    # above ran on the raw value, as in FetchDocValuesPhase. Non-date
    # columns refuse loudly rather than mis-format.
    for fk in ("docvalue_fields", "fields"):
        for spec in body.get(fk, []):
            if isinstance(spec, dict) and "format" in spec:
                f = spec["field"]
                dt = dict(out.dtypes).get(f)
                if dt not in ("timestamp", "date"):
                    raise ValueError(
                        f"format on {fk} field {f!r}: only date/"
                        f"timestamp formatting is supported (got {dt})")
                out = out.withColumn(f, F.date_format(f, spec["format"]))
    return out


def run_search(ex, body: dict, pages: DataFrame | None = None,
               emb: DataFrame | None = None) -> dict:
    """The response envelope (RestSearchAction shape). Collects ≤ size
    hit rows driver-side; total is a separate count on the filter plan."""
    body = dict(body)
    if "aggregations" in body:          # accepted alias, like the reference
        body["aggs"] = body.pop("aggregations")
    _check_body(body)
    is_vec = _is_vector_query(body.get("query"))
    clp = body.get("collapse")
    if is_vec and (clp and "inner_hits" in clp or "aggs" in body):
        raise ValueError("collapse inner_hits / query-scoped aggs are "
                         "not supported on knn/hybrid queries")
    q = (MatchAll() if "query" not in body
         else None if is_vec else from_dsl(body["query"]))
    # track_total_hits: True → exact count; int cap (default 10,000 like
    # the reference's SearchContext.TRACK_TOTAL_HITS_UP_TO) → counting
    # STOPS at cap+1 (limit compiles to CollectLimit — partitions stop
    # producing once the limit is hit, the Spark analogue of the
    # reference's early-terminating total-hits collector; an exact count
    # of a 10^12-doc match would scan every posting for a number nobody
    # asked for)
    import time as _time
    profiling = bool(body.get("profile"))
    phases: list[dict] = []

    def _timed(name, fn):
        t0 = _time.time()
        r = fn()
        if profiling:
            phases.append({"phase": name,
                           "time_ms": round((_time.time() - t0) * 1e3, 1)})
        return r

    tth = body.get("track_total_hits", 10_000)
    ta = int(body.get("terminate_after", 0))
    # vector plans are bounded (≤k / ≤pagination_depth) by construction,
    # so their "total" is just the candidate count
    matched = (_plan_vector_body(ex, body["query"], emb) if is_vec
               else ex._plan(q, scored=False))
    terminated_early = False
    if ta:
        # collection stops after `ta` docs: total is the collected count
        # (relation eq), and the response flags the early exit
        seen = _timed("total_hits_terminate_after",
                      matched.limit(ta + 1).count)
        terminated_early = seen > ta
        total_rep = {"value": min(seen, ta), "relation": "eq"}
    elif tth is True:
        total = _timed("total_hits_exact", matched.count)
        total_rep = {"value": total, "relation": "eq"}
    else:
        cap = int(tth)
        seen = _timed("total_hits_capped", matched.limit(cap + 1).count)
        total_rep = ({"value": seen, "relation": "eq"} if seen <= cap
                     else {"value": cap, "relation": "gte"})
    hits_df = search_df(ex, body, pages=pages, emb=emb)
    rows = _timed("query_fetch", hits_df.collect)
    explanations: dict = {}
    if body.get("explain") and rows:
        # batched Explanation trees: ONE job over the whole hit set
        # (explain_many plans docid isin over the term-pruned postings),
        # not a driver round-trip per hit
        from sparksearch.fetchops import explain_many
        erows = _timed(
            "explain_batch",
            explain_many(ex, q, [r["docid"] for r in rows]).collect)
        for e in erows:
            d2 = e.asDict()
            explanations.setdefault(d2.pop("docid"), []).append(d2)
    hits = []
    for r in rows:
        d = r.asDict()
        hit = {"_id": d.pop("url"), "_score": d.pop("score", None)}
        if "highlight" in d:
            v = d.pop("highlight")
            hit["highlight"] = {"text": list(v) if isinstance(v, list)
                                else [v]}
        if body.get("explain"):
            hit["_explanation"] = explanations.get(d["docid"], [])
        if body.get("sort"):
            # every explicitly-sorted hit carries its sort values — the
            # reference's SearchSortValues, and the search_after cursor
            sort_vals = []
            for i, s in enumerate(body["sort"]
                                  if isinstance(body["sort"], list)
                                  else [body["sort"]]):
                if isinstance(s, dict) and "_script" in s:
                    sort_vals.append(d.pop(f"_script_{i}", None))
                else:
                    f = s if isinstance(s, str) else next(iter(s))
                    sort_vals.append(hit["_score"] if f == "_score"
                                     else d.get("docid") if f == "_doc"
                                     else d.get(f))
            hit["sort"] = sort_vals
        for k in [k for k in d if k.startswith("_script_")]:
            d.pop(k)
        hit["_source"] = {k: v for k, v in d.items() if k != "docid"}
        hits.append(hit)
    if clp and "inner_hits" in clp and hits:
        # per-group top-M expansion: ONE bounded job over the collapsed
        # groups (CollapseBuilder innerHits — a second fetch phase)
        from pyspark.sql import Window
        ih = clp["inner_hits"]
        m = int(ih.get("size", 3))
        nm = ih.get("name", "inner")
        field = clp["field"]
        groups = [h["_source"][field] for h in hits]
        g = (ex._plan(q, scored=True)
             .join(ex.ix.docs.select("docid", "url", field), "docid")
             .filter(F.col(field).isin(groups)))
        w = (Window.partitionBy(field)
             .orderBy(F.col("score").desc(), F.col("docid").asc()))
        inner_rows = (g.withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") <= m)
                      .select(field, "url", _SCORE_4(F.col("score"))
                              .alias("score"), "_rn")
                      .collect())
        by_group: dict = {}
        for r in inner_rows:
            by_group.setdefault(r[field], []).append(
                {"_id": r["url"], "_score": r["score"]})
        for h in hits:
            h["inner_hits"] = {nm: {"hits":
                                    by_group.get(h["_source"][field], [])}}
    max_score = max((h["_score"] for h in hits
                     if h["_score"] is not None), default=None)
    resp = {"hits": {"total": total_rep,
                     "max_score": max_score, "hits": hits}}
    if "timeout" in body:
        resp["timed_out"] = False      # documented no-op, see _BODY_KEYS
    if ta:
        resp["terminated_early"] = terminated_early
    if "aggs" in body:
        resp["aggregations"] = {}
        for name, spec in body["aggs"].items():
            sub = {"aggs": {name: spec}}
            if "query" in body:       # aggs see the query, not post_filter
                sub["query"] = body["query"]
            bdf = aggs_df(ex, sub)
            resp["aggregations"][name] = _timed(
                f"agg:{name}", lambda b=bdf: [r.asDict()
                                              for r in b.collect()])
    if "suggest" in body:
        from sparksearch import fetchops as FO
        resp["suggest"] = {}
        for sname, sspec in body["suggest"].items():
            if "term" in sspec:
                t = sspec["term"]
                df = FO.suggest_terms(
                    ex.ix, sspec["text"], size=t.get("size", 3),
                    max_edits=t.get("max_edits", 2),
                    suggest_mode=t.get("suggest_mode", "missing"),
                    prefix_length=t.get("prefix_length", 1),
                    min_doc_freq=t.get("min_doc_freq", 0))
            elif "phrase" in sspec:
                df = FO.suggest_phrase(ex.ix, sspec["text"],
                                       size=sspec["phrase"].get("size", 3))
            elif "completion" in sspec:
                df = FO.suggest_completion(
                    ex.ix, sspec["prefix"],
                    size=sspec["completion"].get("size", 5))
            else:
                raise ValueError(f"unsupported suggester in {sname!r}")
            resp["suggest"][sname] = _timed(
                f"suggest:{sname}", lambda d=df: [r.asDict()
                                                 for r in d.collect()])
    if profiling:
        # the Spark-native Explanation of a profile request
        # (sv/search/profile): per-phase driver timings plus the executed
        # physical plan of the hits query
        resp["profile"] = {
            "phases": phases,
            "plan": hits_df._jdf.queryExecution().executedPlan().toString(),
        }
    return resp


def count_api(ex, body: dict) -> dict:
    """The `_count` endpoint: filter-context match count, no scoring, no
    fetch (sv/action/search — RestCountAction)."""
    q = from_dsl(body["query"]) if "query" in body else MatchAll()
    return {"count": ex._plan(q, scored=False).count()}


def mget(ex, ids: list[str], source: bool = True) -> dict:
    """The `_mget` endpoint: fetch docs by id (url) in request order,
    `found: false` for misses (sv/action/get/TransportMultiGetAction).
    One isin-pruned scan — N ids never become N jobs."""
    rows = {r["url"]: r.asDict()
            for r in ex.ix.docs.filter(F.col("url").isin(list(ids)))
            .collect()}
    docs = []
    for i in ids:
        if i in rows:
            d = {k: v for k, v in rows[i].items()
                 if k not in ("docid", "url")}
            docs.append({"_id": i, "found": True,
                         **({"_source": d} if source else {})})
        else:
            docs.append({"_id": i, "found": False})
    return {"docs": docs}


def scroll_open(ex, body: dict, scroll: str = "1m"):
    """``POST /_search?scroll=1m`` — the classic scroll cursor
    (sv/rest/action/search/RestSearchScrollAction.java,
    sv/search/SearchService#createAndPutReaderContext).

    Opens a point-in-time snapshot (the reference holds an IndexReader
    over the segments_N commit for `scroll` keepalive; here the PIT pins
    the committed generation list, so writes after open are invisible to
    the scroll) and returns the first page plus an opaque scroll state.
    The state IS the `_scroll_id`: the reference encodes reader-context
    ids per shard; we carry the pinned commit + keyset cursor, which is
    exactly the state those contexts hold for a sorted scroll.

    Returns ``(rows, state)`` — rows is the collected page (bounded by
    ``size``, like the reference's fetch phase), state feeds
    :func:`scroll_next`. The sort gets a ``docid`` tie-break appended so
    the cursor is total, mirroring how the reference scroll falls back
    to ``_doc`` within equal sort values."""
    body = dict(body)
    if "from" in body or "search_after" in body:
        # reference: scroll rejects from/search_after
        # (SearchService validation)
        raise ValueError("scroll cannot combine with from/search_after")
    sort = body.get("sort") or [{"_score": "desc"}]
    sort = sort if isinstance(sort, list) else [sort]
    fields = [(s if isinstance(s, str) else next(iter(s)))
              for s in sort]
    if "docid" not in fields and "_doc" not in fields:
        sort = sort + [{"docid": "asc"}]
    body["sort"] = sort
    state = {"pit": ex.ix.open_pit(), "body": body, "scroll": scroll,
             "fixed_now": ex.fixed_now, "after": None, "done": False,
             "analyzer": ex.ix.analyzer}
    return scroll_next(ex.ix.spark, state)


def scroll_next(spark, state: dict):
    """``POST /_search/scroll {"scroll_id": ...}`` — next page of an open
    scroll. Reconstructs the pinned PIT reader (so concurrent
    add_generation commits never leak into an open scroll) and applies
    the keyset cursor from the previous page. Returns ``(rows, state)``;
    ``state["done"]`` flips when a short page ends the scroll."""
    from sparksearch.exec import Executor
    from sparksearch.index import pit_reader
    if state.get("done"):
        return [], state
    ix = pit_reader(spark, state["pit"])
    ix.analyzer = state.get("analyzer", ix.analyzer)
    # keep query-text analysis consistent with the restored analyzer
    # unless the pinned meta carried an explicit search_analyzer
    if "search_analyzer" not in ix.meta:
        ix.search_analyzer = ix.analyzer
    ex = Executor(ix, fixed_now=state.get("fixed_now"))
    body = dict(state["body"])
    if state["after"] is not None:
        body["search_after"] = state["after"]
    size = int(body.get("size", 10))
    rows = search_df(ex, body).collect()
    fields = [(s if isinstance(s, str) else next(iter(s)))
              for s in body["sort"]]
    new = dict(state)
    if rows:
        last = rows[-1]
        new["after"] = [last["score"] if f == "_score" else last[f]
                        for f in fields]
    new["done"] = len(rows) < size
    return rows, new


def clear_scroll(state: dict) -> dict:
    """``DELETE /_search/scroll`` — drop the cursor (the PIT pins no OS
    resources here: generation dirs are immutable; the reference frees
    its reader context)."""
    state = dict(state)
    state["done"] = True
    state["after"] = None
    return state


_METRICS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "value_count": F.count}

#: bucket kinds that assign every doc to exactly one bucket — the ones
#: that compose as outer/inner levels of a nested agg
_PARTITIONING_BUCKETS = ("terms", "histogram", "date_histogram")


def _metric_col(kind: str, spec: dict, name: str):
    if kind == "cardinality":
        return F.countDistinct(F.col(spec["field"])).cast("long").alias(name)
    if kind == "weighted_avg":
        v = F.col(spec["value"]["field"]).cast("double")
        w = F.col(spec["weight"]["field"]).cast("double")
        return F.round(F.sum(v * w) / F.sum(w), 6).alias(name)
    v = F.col(spec["field"]).cast("double")
    c = _METRICS[kind](v)
    if kind == "value_count":
        return c.cast("long").alias(name)
    return F.round(c, 6).alias(name)


def _fixed_secs(iv: str) -> int:
    import re
    m = re.fullmatch(r"(\d+)([smhd])", iv)
    if not m:
        raise ValueError(f"unsupported fixed_interval: {iv!r}")
    return int(m.group(1)) * {"s": 1, "m": 60, "h": 3600, "d": 86400}[
        m.group(2)]


def _key_col(kind: str, cfg: dict):
    """Per-doc bucket key for a partitioning bucket kind."""
    f = F.col(cfg["field"])
    if kind == "terms":
        return f
    if kind == "histogram":
        iv = float(cfg["interval"])
        return (F.floor(f.cast("double") / iv) * iv).cast("double")
    if kind == "date_histogram":
        if "calendar_interval" in cfg:
            return F.date_trunc(cfg["calendar_interval"], f)
        secs = _fixed_secs(cfg.get("fixed_interval", "1m"))
        return (F.floor(F.unix_timestamp(f) / secs).cast("long") * secs)
    raise ValueError(f"unsupported bucket type: {kind!r}")


def _split_sub(sub: dict | None):
    """Partition a sub-aggs dict into (bucket sub-agg or None, metric cols)."""
    bucket = None
    metrics = []
    for sname, sspec in (sub or {}).items():
        (skind, scfg), = ((k, v) for k, v in sspec.items() if k != "aggs")
        if skind in _PARTITIONING_BUCKETS:
            if bucket is not None:
                raise ValueError("one bucket sub-agg per level")
            bucket = (sname, skind, scfg,
                      sspec.get("aggs") if isinstance(sspec, dict) else None)
        else:
            metrics.append(_metric_col(skind, scfg, sname))
    return bucket, metrics


def aggs_df(ex, body: dict) -> DataFrame:
    """One top-level agg from the body as a DataFrame — bucket rows
    (terms / histogram / date_histogram / range / filters) or a single-row
    metric (avg/sum/min/max/value_count/cardinality/weighted_avg/stats/
    extended_stats/percentiles). Buckets take metric sub-aggs plus at most
    one nested partitioning bucket (one row per outer×inner bucket pair,
    the flat form of the reference's nested bucket response).

    Aggregations run over the QUERY-MATCHED set (AggregationPhase sits
    behind the query in the reference), not the whole index — the body's
    `query` is applied as a filter-context semi-join. `post_filter` by
    design does NOT reach aggs (it only filters hits)."""
    from sparksearch import aggs as A
    (name, spec), = body["aggs"].items()
    spec = dict(spec)
    sub = spec.pop("aggs", None)
    (kind, cfg), = ((k, v) for k, v in spec.items() if k != "aggs")
    d = ex.ix.docs
    if "query" in body:
        matched = ex._plan(from_dsl(body["query"]),
                           scored=False).select("docid")
        d = d.join(matched, "docid", "left_semi")

    # ---- single-row metric leaves ----
    if kind in _METRICS or kind in ("cardinality", "weighted_avg"):
        return d.agg(_metric_col(kind, cfg, name))
    if kind in ("stats", "extended_stats"):
        return A.stats_agg(d, cfg["field"], extended=kind == "extended_stats")
    if kind == "percentiles":
        pcts = [p / 100.0 for p in cfg.get("percents", (25, 50, 75, 95))]
        return A.percentiles_agg(d, cfg["field"], pcts)

    # ---- non-partitioning buckets (top level only) ----
    if kind == "range":
        if sub:
            raise ValueError("range buckets may overlap; sub-aggs "
                             "unsupported in the body form")
        ranges = [(r.get("from"), r.get("to")) for r in cfg["ranges"]]
        return A.range_agg(d, cfg["field"], ranges)
    if kind == "filters":
        if sub:
            raise ValueError("sub-aggs unsupported under body filters")
        counts = None
        for fname, fdsl in cfg["filters"].items():
            m = ex._plan(from_dsl(fdsl), scored=False).select("docid")
            c = (d.join(m, "docid", "left_semi")
                 .agg(F.count("*").cast("long").alias(fname)))
            counts = c if counts is None else counts.crossJoin(c)
        return counts

    if kind not in _PARTITIONING_BUCKETS:
        raise ValueError(f"unsupported agg type: {kind!r}")

    inner, subcols = _split_sub(sub)
    out = d.withColumn("key", _key_col(kind, cfg))
    if kind == "terms":
        out = out.filter(F.col("key").isNotNull())

    if inner is None:
        g = out.groupBy("key").agg(
            F.count("*").cast("long").alias("doc_count"), *subcols)
        if kind == "terms":
            return (g.orderBy(F.col("doc_count").desc(),
                              F.col("key").asc())
                    .limit(int(cfg.get("size", 10))))
        return g.orderBy("key")

    # ---- one nested bucket level: rows are (key, <inner>, doc_count, …) ----
    iname, ikind, icfg, isub = inner
    ibucket, isubcols = _split_sub(isub)
    if ibucket is not None:
        raise ValueError("nesting depth is two bucket levels")
    out = out.withColumn(iname, _key_col(ikind, icfg))
    if ikind == "terms":
        out = out.filter(F.col(iname).isNotNull())
    if kind == "terms":
        # outer top-N by TOTAL doc count (terms order), then drill in
        top = (out.groupBy("key")
               .agg(F.count("*").alias("_n"))
               .orderBy(F.col("_n").desc(), F.col("key").asc())
               .limit(int(cfg.get("size", 10)))
               .select("key"))
        out = out.join(F.broadcast(top), "key", "left_semi")
    g = out.groupBy("key", iname).agg(
        F.count("*").cast("long").alias("doc_count"), *isubcols)
    if ikind == "terms":
        from pyspark.sql import Window
        w = (Window.partitionBy("key")
             .orderBy(F.col("doc_count").desc(), F.col(iname).asc()))
        g = (g.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") <= int(icfg.get("size", 10)))
             .drop("_rn"))
    if subcols:
        # metric sub-aggs sibling to the nested bucket are per OUTER
        # bucket (reference semantics) — replicated across inner rows in
        # this flat form
        g = g.join(out.groupBy("key").agg(*subcols), "key")
    return g.orderBy("key", iname)
