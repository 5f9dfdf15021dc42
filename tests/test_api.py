"""`_search` request-body API (sparksearch.api)."""

import pytest

from sparksearch.api import _parse_sort, aggs_df, run_search, search_df


def test_parse_sort_forms():
    L = "_last"
    assert _parse_sort(None) == [("_score", False, L), ("_doc", True, L)]
    assert _parse_sort([{"dl": {"order": "desc"}}]) == \
        [("dl", False, L), ("_doc", True, L)]
    assert _parse_sort([{"dl": "desc"}, "_score"]) == \
        [("dl", False, L), ("_score", False, L), ("_doc", True, L)]
    assert _parse_sort(["lang"]) == [("lang", True, L), ("_doc", True, L)]
    # FieldSortBuilder missing policy: _first / literal substitute
    assert _parse_sort([{"dl": {"order": "asc", "missing": "_first"}}]) \
        == [("dl", True, "_first"), ("_doc", True, L)]
    assert _parse_sort([{"dl": {"missing": 42}}]) == \
        [("dl", True, 42), ("_doc", True, L)]


@pytest.fixture(scope="module")
def ex(spark, index_sf0001):
    from sparksearch.exec import Executor
    return Executor(index_sf0001)


def test_run_search_envelope(ex):
    body = {"query": {"match": {"text": "hash join"}}, "size": 3,
            "_source": {"includes": ["lang", "dl"]}}
    resp = run_search(ex, body)
    assert resp["hits"]["total"]["relation"] == "eq"
    assert resp["hits"]["total"]["value"] > 3
    hits = resp["hits"]["hits"]
    assert len(hits) == 3
    assert hits[0]["_score"] == resp["hits"]["max_score"]
    assert set(hits[0]["_source"]) == {"lang", "dl"}
    assert hits[0]["_id"].startswith("https://")
    # scores descending
    scores = [h["_score"] for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_source_false_and_excludes(ex):
    body = {"query": {"match_all": {}}, "size": 2, "_source": False}
    rows = search_df(ex, body).columns
    assert set(rows) == {"docid", "url", "score"}
    body2 = {"query": {"match_all": {}}, "size": 2,
             "_source": {"excludes": ["warc_*", "dl_q"]}}
    cols = search_df(ex, body2).columns
    assert "warc_ts" not in cols and "dl_q" not in cols and "lang" in cols


def test_from_pagination_disjoint(ex):
    body = {"query": {"match": {"text": "join"}}, "size": 5,
            "_source": False}
    p1 = [r.docid for r in search_df(ex, body).collect()]
    p2 = [r.docid for r in
          search_df(ex, {**body, "from": 5}).collect()]
    assert len(p1) == len(p2) == 5 and not set(p1) & set(p2)


def test_search_after_equals_offset(ex):
    body = {"query": {"match_all": {}},
            "sort": [{"dl": {"order": "desc"}}], "size": 7,
            "_source": {"includes": ["dl"]}}
    page1 = search_df(ex, body).collect()
    cursor = [int(page1[-1]["dl"]), int(page1[-1]["docid"])]
    p2 = [r.docid for r in
          search_df(ex, {**body, "search_after": cursor}).collect()]
    off = [r.docid for r in
           search_df(ex, {**body, "from": 7}).collect()]
    assert p2 == off and len(p2) == 7


def test_search_after_pages_nullable_sort_field(ex):
    """search_after over a sort field that is null for most docs pages
    through every doc exactly once, in the order of one unpaged request,
    under each `missing` policy: nulls last, nulls first, and a literal
    substitute (which the null docs' cursors take too)."""
    base = {"query": {"term": {"lang": "de"}}, "_source": False,
            "runtime_mappings": {
                "m7": "doc['dl'].value % 3 == 0 ? doc['dl'].value % 7 "
                      ": null"},
            "docvalue_fields": ["m7"]}
    for order, missing in (("asc", "_last"), ("desc", "_first"),
                           ("desc", 3), ("asc", 3)):
        body = {**base, "sort": [{"m7": {"order": order,
                                         "missing": missing}},
                                 {"_doc": "asc"}]}
        want = [h["_id"] for h in
                run_search(ex, {**body, "size": 200})["hits"]["hits"]]
        got, cursor = [], None
        for _ in range(10):
            page = {**body, "size": 20}
            if cursor is not None:
                page["search_after"] = cursor
            hits = run_search(ex, page)["hits"]["hits"]
            if not hits:
                break
            got += [h["_id"] for h in hits]
            cursor = hits[-1]["sort"]
        assert len(want) == 71 and got == want, (order, missing)


def test_aggs_metric_and_histogram(ex):
    m = aggs_df(ex, {"aggs": {"avg_dl": {"avg": {"field": "dl"}}}}) \
        .collect()[0]
    assert m["avg_dl"] > 0
    h = aggs_df(ex, {"aggs": {"h": {"histogram": {"field": "dl",
                                                  "interval": 20}}}}) \
        .collect()
    assert sum(r.doc_count for r in h) == ex.ix.n_docs
    assert all(r.key % 20 == 0 for r in h)
    with pytest.raises(ValueError):
        aggs_df(ex, {"aggs": {"x": {"geo_grid": {"field": "p"}}}})


def test_post_filter_hits_only(ex):
    base = {"query": {"match": {"text": "join"}}, "size": 100_000,
            "_source": {"includes": ["lang"]}}
    all_hits = search_df(ex, base).collect()
    pf = search_df(ex, {**base,
                        "post_filter": {"term": {"lang": "en"}}}).collect()
    assert pf and all(r.lang == "en" for r in pf)
    kept = {r.docid for r in all_hits if r.lang == "en"}
    assert {r.docid for r in pf} == kept
    # scores unchanged by the post filter
    s = {r.docid: r.score for r in all_hits}
    assert all(abs(s[r.docid] - r.score) < 1e-9 for r in pf)


def test_track_total_hits(ex):
    body = {"query": {"match_all": {}}, "size": 1, "_source": False}
    capped = run_search(ex, {**body, "track_total_hits": 5})
    assert capped["hits"]["total"] == {"value": 5, "relation": "gte"}
    exact = run_search(ex, {**body, "track_total_hits": True})
    assert exact["hits"]["total"]["relation"] == "eq"
    assert exact["hits"]["total"]["value"] == ex.ix.n_docs
    # below the default 10k cap → exact without opting in
    dflt = run_search(ex, body)
    assert dflt["hits"]["total"] == exact["hits"]["total"]


def test_aggs_scoped_to_query(ex):
    whole = aggs_df(ex, {"aggs": {"n": {"value_count": {"field": "dl"}}}}) \
        .collect()[0]["n"]
    scoped_body = {"query": {"term": {"lang": "en"}},
                   "aggs": {"n": {"value_count": {"field": "dl"}}}}
    scoped = aggs_df(ex, scoped_body).collect()[0]["n"]
    n_en = ex.ix.docs.filter("lang = 'en'").count()
    assert scoped == n_en < whole
    # run_search forwards the query to aggs (and post_filter never reaches)
    resp = run_search(ex, {**scoped_body, "size": 0,
                           "post_filter": {"term": {"lang": "de"}}})
    assert resp["aggregations"]["n"][0]["n"] == n_en


def test_collapse_in_body(ex):
    body = {"query": {"match": {"text": "join"}}, "size": 10,
            "collapse": {"field": "lang"}, "_source": {"includes": ["lang"]}}
    rows = search_df(ex, body).collect()
    langs = [r.lang for r in rows]
    assert len(langs) == len(set(langs))
    # each surviving hit is its group's best by (score desc, docid asc)
    full = search_df(ex, {"query": body["query"], "size": 100_000,
                          "_source": {"includes": ["lang"]}}).collect()
    best = {}
    for r in sorted(full, key=lambda r: (-r.score, r.docid)):
        best.setdefault(r.lang, r.docid)
    for r in rows:
        assert best[r.lang] == r.docid


def test_highlight_in_body(spark, ex):
    import pytest as _pt
    from sparksearch.corpus import pages_from_documents
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    body = {"query": {"match": {"text": "hash join"}}, "size": 3,
            "_source": False,
            "highlight": {"fields": {"text": {}},
                          "pre_tags": ["["], "post_tags": ["]"]}}
    rows = search_df(ex, body, pages=pages).collect()
    assert len(rows) == 3
    assert all("[hash]" in r.highlight or "[join]" in r.highlight
               for r in rows)
    resp = run_search(ex, body, pages=pages)
    assert resp["hits"]["hits"][0]["highlight"]["text"][0] == \
        rows[0].highlight
    with _pt.raises(ValueError):
        search_df(ex, body)  # highlight without the corpus


def test_suggest_in_body(ex):
    resp = run_search(ex, {
        "size": 0,
        "suggest": {
            "fix": {"text": "joni", "term": {"field": "text"}},
            "auto": {"prefix": "jo", "completion": {"size": 3}}}})
    fix = resp["suggest"]["fix"]
    assert fix and all(r["input"] == "joni" for r in fix)
    assert any(r["term"] == "join" for r in fix)
    auto = resp["suggest"]["auto"]
    assert 0 < len(auto) <= 3
    assert all(r["term"].startswith("jo") for r in auto)
    dfs = [r["df"] for r in auto]
    assert dfs == sorted(dfs, reverse=True)


def test_explain_in_body(ex):
    resp = run_search(ex, {
        "query": {"match": {"text": "hash join"}}, "size": 2,
        "_source": False, "explain": True})
    for h in resp["hits"]["hits"]:
        exp = h["_explanation"]
        assert exp and {e["term"] for e in exp} <= {"hash", "join"}
        total = sum(e["contribution"] for e in exp)
        assert abs(total - h["_score"]) < 2e-4  # per-term rounding
    with pytest.raises(ValueError):
        run_search(ex, {"query": {"term": {"lang": "en"}},
                        "size": 1, "explain": True})


def test_explain_in_body_is_one_batched_call(ex, monkeypatch):
    """explain:true over a multi-hit response runs ONE explain_many plan
    (docid isin), not a Spark job per hit."""
    import sparksearch.fetchops as FO
    calls = []
    orig = FO.explain_many

    def counting(ex2, q, docids):
        calls.append(list(docids))
        return orig(ex2, q, docids)

    monkeypatch.setattr(FO, "explain_many", counting)
    resp = run_search(ex, {
        "query": {"match": {"text": "hash join"}}, "size": 5,
        "_source": False, "explain": True})
    n_hits = len(resp["hits"]["hits"])
    assert n_hits > 1
    assert len(calls) == 1 and len(calls[0]) == n_hits


def test_rescore_in_body(ex):
    base = {"query": {"match": {"text": "hash"}}, "size": 5,
            "_source": False}
    plain = search_df(ex, base).collect()
    body = {**base, "rescore": {
        "window_size": 20,
        "query": {"rescore_query": {"match": {"text": "join"}},
                  "query_weight": 1.0, "rescore_query_weight": 2.0}}}
    rescored = search_df(ex, body).collect()
    assert len(rescored) == 5
    # combined score ≥ primary score for any doc that also matches 'join'
    prim = {r.docid: r.score for r in search_df(
        ex, {**base, "size": 100_000}).collect()}
    assert all(r.score >= prim[r.docid] - 1e-9 for r in rescored)
    assert [r.docid for r in rescored] != [r.docid for r in plain] or \
        all(abs(r.score - prim[r.docid]) < 1e-9 for r in rescored)
    with pytest.raises(ValueError):
        search_df(ex, {**body, "from": 18})  # from+size > window


def test_script_fields_and_script_sort(ex):
    body = {"query": {"term": {"lang": "en"}}, "size": 6,
            "_source": False,
            "script_fields": {"dl2": {"script":
                                      {"source": "doc['dl'].value * 2"}}},
            "sort": [{"_script": {"script": {"source":
                                             "doc['dl'].value % 5"},
                      "order": "desc"}}]}
    rows = search_df(ex, body).collect()
    # script field = 2·dl; sort key = dl % 5 desc
    docs = {r.docid: r.dl for r in
            ex.ix.docs.filter("lang='en'").select("docid", "dl").collect()}
    for r in rows:
        assert r.dl2 == docs[r.docid] * 2
    keys = [r["_script_0"] for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_runtime_mappings_in_body(ex):
    body = {"query": {"range": {"dl_sq": {"gte": 2500}}},
            "runtime_mappings": {"dl_sq": {"type": "double",
                                           "script": {"source":
                                                      "doc['dl'].value * "
                                                      "doc['dl'].value"}}},
            "sort": [{"dl_sq": {"order": "asc"}}], "size": 5,
            "_source": {"includes": ["dl"]}}
    rows = search_df(ex, body).collect()
    assert rows and all(r.dl * r.dl >= 2500 for r in rows)
    vals = [r.dl * r.dl for r in rows]
    assert vals == sorted(vals)


def test_metric_leaves(ex):
    card = aggs_df(ex, {"aggs": {"c": {"cardinality": {"field": "lang"}}}}) \
        .collect()[0]["c"]
    assert card == ex.ix.docs.select("lang").distinct().count()
    st = aggs_df(ex, {"aggs": {"s": {"stats": {"field": "dl"}}}}).collect()[0]
    assert st["count"] == ex.ix.n_docs and st["min"] <= st["avg"] <= st["max"]
    ext = aggs_df(ex, {"aggs": {"s": {"extended_stats": {"field": "dl"}}}}) \
        .collect()[0]
    assert ext["variance"] >= 0 and "std_deviation" in ext.asDict()
    pc = aggs_df(ex, {"aggs": {"p": {"percentiles": {
        "field": "dl", "percents": [50, 95]}}}}).collect()[0]
    assert pc["p50"] <= pc["p95"]
    wa = aggs_df(ex, {"aggs": {"w": {"weighted_avg": {
        "value": {"field": "dl"}, "weight": {"field": "dl_q"}}}}}) \
        .collect()[0]["w"]
    assert st["min"] <= wa <= st["max"]


def test_range_and_filters_buckets(ex):
    r = aggs_df(ex, {"aggs": {"r": {"range": {
        "field": "dl",
        "ranges": [{"to": 50}, {"from": 50, "to": 150}, {"from": 150}]}}}}) \
        .collect()
    assert [x.key for x in r] == ["*-50", "50-150", "150-*"]
    assert sum(x.doc_count for x in r) == ex.ix.n_docs
    f = aggs_df(ex, {"aggs": {"f": {"filters": {"filters": {
        "en": {"term": {"lang": "en"}},
        "joins": {"match": {"text": "join"}}}}}}}).collect()[0]
    assert f["en"] == ex.ix.docs.filter("lang = 'en'").count()
    assert f["joins"] > 0


def test_nested_bucket_agg(ex):
    body = {"aggs": {"langs": {
        "terms": {"field": "lang", "size": 2},
        "aggs": {"dl_h": {"histogram": {"field": "dl", "interval": 50}},
                 "avg_dl": {"avg": {"field": "dl"}}}}}}
    # sibling metrics are per OUTER bucket, replicated across inner rows
    rows = aggs_df(ex, body).collect()
    assert set(rows[0].asDict()) == {"key", "dl_h", "doc_count", "avg_dl"}
    for lg in {r.key for r in rows}:
        vals = {r.avg_dl for r in rows if r.key == lg}
        assert len(vals) == 1
    langs = {r.key for r in rows}
    assert len(langs) == 2
    top2 = {r.key for r in aggs_df(ex, {"aggs": {"l": {
        "terms": {"field": "lang", "size": 2}}}}).collect()}
    assert langs == top2
    # inner histogram counts per lang sum to the lang's doc count
    per_lang = {r.key: r.doc_count for r in aggs_df(ex, {"aggs": {"l": {
        "terms": {"field": "lang", "size": 2}}}}).collect()}
    for lg in langs:
        assert sum(r.doc_count for r in rows if r.key == lg) == per_lang[lg]


def test_run_search_with_aggs(ex):
    resp = run_search(ex, {
        "query": {"match_all": {}}, "size": 1,
        "aggs": {"langs": {"terms": {"field": "lang", "size": 3}}}})
    buckets = resp["aggregations"]["langs"]
    assert len(buckets) == 3
    assert buckets[0]["doc_count"] >= buckets[-1]["doc_count"]


def test_count_and_mget(ex):
    from sparksearch.api import count_api, mget
    c = count_api(ex, {"query": {"term": {"lang": "en"}}})
    assert c["count"] == ex.ix.docs.filter("lang = 'en'").count()
    assert count_api(ex, {})["count"] == ex.ix.n_docs
    urls = [r.url for r in ex.ix.docs.select("url").limit(2).collect()]
    got = mget(ex, [urls[0], "https://nosuch.example/x", urls[1]])
    assert [d["found"] for d in got["docs"]] == [True, False, True]
    assert got["docs"][0]["_id"] == urls[0]
    assert "lang" in got["docs"][0]["_source"]
    assert "_source" not in mget(ex, [urls[0]], source=False)["docs"][0]


def test_rescore_sort_conflict(ex):
    with pytest.raises(ValueError):
        search_df(ex, {"query": {"match": {"text": "hash"}},
                       "sort": [{"dl": "desc"}],
                       "rescore": {"window_size": 10, "query": {
                           "rescore_query": {"match": {"text": "join"}}}}})


def test_collapse_inner_hits(ex):
    resp = run_search(ex, {
        "query": {"match": {"text": "join"}}, "size": 3,
        "collapse": {"field": "lang", "inner_hits": {"size": 2,
                                                     "name": "per_lang"}},
        "_source": {"includes": ["lang"]}})
    hits = resp["hits"]["hits"]
    assert hits
    for h in hits:
        inner = h["inner_hits"]["per_lang"]["hits"]
        assert 1 <= len(inner) <= 2
        # the collapsed hit is its group's best — inner hit #1 is itself
        assert inner[0]["_id"] == h["_id"]
        assert inner[0]["_score"] == h["_score"]
        scores = [i["_score"] for i in inner]
        assert scores == sorted(scores, reverse=True)


def test_profile_in_body(ex):
    resp = run_search(ex, {
        "query": {"match": {"text": "hash"}}, "size": 2,
        "_source": False, "profile": True,
        "aggs": {"langs": {"terms": {"field": "lang", "size": 2}}}})
    prof = resp["profile"]
    names = [p["phase"] for p in prof["phases"]]
    assert "total_hits_capped" in names
    assert "query_fetch" in names and "agg:langs" in names
    assert all(p["time_ms"] >= 0 for p in prof["phases"])
    assert "TakeOrderedAndProject" in prof["plan"]
    # profile off → no key
    assert "profile" not in run_search(
        ex, {"query": {"match_all": {}}, "size": 1, "_source": False})


def test_search_after_from_conflict_and_sort_values(ex):
    with pytest.raises(ValueError):
        search_df(ex, {"query": {"match_all": {}},
                       "sort": [{"dl": "desc"}], "from": 5,
                       "search_after": [100, 1]})
    resp = run_search(ex, {
        "query": {"term": {"lang": "en"}}, "size": 2, "_source": False,
        "sort": [{"_script": {"script": {"source": "doc['dl'].value % 5"},
                              "order": "desc"}}]})
    h = resp["hits"]["hits"][0]
    assert "sort" in h and len(h["sort"]) == 1
    assert "_script_0" not in h["_source"]


def test_track_scores_and_fields(ex):
    body = {"query": {"match": {"text": "hash"}},
            "sort": [{"dl": {"order": "desc"}}],
            "track_scores": True, "size": 5, "_source": False,
            "fields": ["lang"]}
    rows = search_df(ex, body).collect()
    assert all(r.score is not None and r.score > 0 for r in rows)
    assert all(r.lang is not None for r in rows)
    dls = [r.dl for r in rows] if "dl" in rows[0].asDict() else None


def test_highlight_fragments_in_body(spark, ex):
    from sparksearch.corpus import pages_from_documents
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    body = {"query": {"match": {"text": "hash join"}}, "size": 3,
            "_source": False,
            "highlight": {"fields": {"text": {}},
                          "fragment_size": 60,
                          "number_of_fragments": 2}}
    rows = search_df(ex, body, pages=pages).collect()
    assert len(rows) == 3
    for r in rows:
        assert 1 <= len(r.highlight) <= 2
        for frag in r.highlight:
            assert len(frag) <= 60 + 20  # window + inserted tags
            assert "<em>" in frag
    resp = run_search(ex, body, pages=pages)
    assert resp["hits"]["hits"][0]["highlight"]["text"] == \
        list(rows[0].highlight)


def test_highlight_type_field_opts_and_field_match(spark, ex):
    """Highlighter `type` accepted (unified/plain/fvh → one impl),
    per-field options override the top level, require_field_match=false
    pulls terms from clauses on other fields, order=score resorts."""
    from sparksearch.corpus import pages_from_documents
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    base = {"query": {"bool": {"must": [{"match": {"text": "hash join"}}],
                               "filter": [{"term": {"lang": "en"}}]}},
            "size": 3, "_source": False}
    # per-field fragment opts + type under fields.text
    body = {**base, "highlight": {"fields": {"text": {
        "type": "plain", "fragment_size": 50,
        "number_of_fragments": 1}}}}
    rows = search_df(ex, body, pages=pages).collect()
    assert rows and all(len(r.highlight) == 1 for r in rows)
    with pytest.raises(ValueError, match="highlighter type"):
        search_df(ex, {**base, "highlight": {"type": "postings",
                                             "fragment_size": 50}},
                  pages=pages)
    # require_field_match=true (default): a query targeting another
    # field contributes no terms -> simple tagging path yields no <em>
    body_other = {"query": {"match": {"text": "hash"}},
                  "size": 2, "_source": False,
                  "highlight": {"fragment_size": 50,
                                "number_of_fragments": 1}}
    tagged = search_df(ex, body_other, pages=pages).collect()
    assert all("<em>" in r.highlight[0] for r in tagged)
    # order=score puts the most-matching fragment first
    body_sc = {**base, "highlight": {"fragment_size": 40,
                                     "number_of_fragments": 3,
                                     "order": "score"}}
    for r in search_df(ex, body_sc, pages=pages).collect():
        counts = [f.count("<em>") for f in r.highlight]
        assert counts == sorted(counts, reverse=True)


def test_unknown_body_key_rejected(ex):
    with pytest.raises(ValueError, match="unknown _search body keys.*agg"):
        search_df(ex, {"query": {"match_all": {}}, "agg": {}})
    with pytest.raises(ValueError, match="pit"):
        run_search(ex, {"pit": {"id": "x"}})


def test_aggregations_alias(ex):
    r1 = run_search(ex, {"size": 0, "aggregations":
                         {"l": {"terms": {"field": "lang"}}}})
    r2 = run_search(ex, {"size": 0, "aggs":
                         {"l": {"terms": {"field": "lang"}}}})
    assert r1["aggregations"] == r2["aggregations"]


def test_terminate_after(ex):
    full = run_search(ex, {"query": {"match_all": {}}, "size": 5,
                           "track_total_hits": True})
    n = full["hits"]["total"]["value"]
    ta = n // 2
    r = run_search(ex, {"query": {"match_all": {}}, "size": 5,
                        "terminate_after": ta})
    assert r["terminated_early"] is True
    assert r["hits"]["total"] == {"value": ta, "relation": "eq"}
    # collection in doc order: hits come from the first `ta` docids only
    rows = search_df(ex, {"query": {"match_all": {}}, "size": ta + 10,
                          "terminate_after": ta}).collect()
    assert len(rows) == ta
    assert max(r.docid for r in rows) < ta  # match_all ⇒ prefix of docids
    # a cap above the match count: nothing terminates
    r2 = run_search(ex, {"query": {"match_all": {}}, "size": 5,
                         "terminate_after": n + 10})
    assert r2["terminated_early"] is False
    assert r2["hits"]["total"] == {"value": n, "relation": "eq"}


@pytest.fixture(scope="module")
def emb001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_knn_body_query(ex, emb001):
    qv = list(emb001.where("vec_id = 3").collect()[0]["embedding"])
    body = {"query": {"knn": {"embedding": {"vector": qv, "k": 5}}}}
    resp = run_search(ex, body, emb=emb001)
    hits = resp["hits"]["hits"]
    assert len(hits) == 5
    assert resp["hits"]["total"] == {"value": 5, "relation": "eq"}
    # self-match first at cosine 1 → score (1+1)/2 = 1.0
    assert hits[0]["_id"].endswith("00000003")
    assert hits[0]["_score"] == 1.0
    scores = [h["_score"] for h in hits]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_knn_body_filter_and_l2(ex, emb001):
    qv = list(emb001.where("vec_id = 3").collect()[0]["embedding"])
    body = {"query": {"knn": {"embedding": {
        "vector": qv, "k": 4, "filter": {"term": {"lang": "de"}}}}},
        "_source": {"includes": ["lang"]}}
    rows = search_df(ex, body, emb=emb001).collect()
    assert 0 < len(rows) <= 4
    assert all(r.lang == "de" for r in rows)
    l2 = {"query": {"knn": {"embedding": {
        "vector": qv, "k": 3, "space_type": "l2"}}}}
    rows2 = search_df(ex, l2, emb=emb001).collect()
    assert rows2[0].score == 1.0          # d=0 → 1/(1+0)
    assert rows2[1].score < 1.0


def test_hybrid_body_query(ex, emb001):
    qv = list(emb001.where("vec_id = 3").collect()[0]["embedding"])
    body = {"query": {"hybrid": {"queries": [
                {"match": {"text": "join"}},
                {"knn": {"embedding": {"vector": qv, "k": 15}}}],
            "pagination_depth": 15}}, "size": 10}
    resp = run_search(ex, body, emb=emb001)
    hits = resp["hits"]["hits"]
    assert len(hits) == 10
    # RRF ceiling: a doc ranked 1st in both lists scores 2/61
    assert all(0 < h["_score"] <= round(2 / 61, 4) for h in hits)
    # the knn self-match doc must be present (rank 1 in the knn list)
    assert any(h["_id"].endswith("00000003") for h in hits)


def test_hybrid_normalization_fusion(ex, emb001):
    qv = list(emb001.where("vec_id = 3").collect()[0]["embedding"])
    legs = [{"match": {"text": "join"}},
            {"knn": {"embedding": {"vector": qv, "k": 15}}}]
    body = {"query": {"hybrid": {
        "queries": legs, "pagination_depth": 15,
        "normalization": {"technique": "min_max"},
        "combination": {"technique": "arithmetic_mean"}}}, "size": 10}
    resp = run_search(ex, body, emb=emb001)
    hits = resp["hits"]["hits"]
    assert hits and all(0.0 <= h["_score"] <= 1.0 for h in hits)
    # the knn self-match is min-max 1.0 in its leg; with equal weights
    # its fused score is ≥ 0.5 and it must surface
    self_hit = [h for h in hits if h["_id"].endswith("00000003")]
    assert self_hit and self_hit[0]["_score"] >= 0.5

    from sparksearch.hybrid import normalize_fuse
    spark = emb001.sparkSession
    a = spark.createDataFrame([(1, 10.0), (2, 5.0)], "docid long, score double")
    b = spark.createDataFrame([(1, 2.0), (3, 1.0)], "docid long, score double")
    rows = {r.docid: r.score
            for r in normalize_fuse([a, b], top_n=10).collect()}
    # doc1: (1.0 + 1.0)/2 = 1.0; doc2: (0 + 0)/2 = 0; doc3: 0/2 = 0
    assert rows == {1: 1.0, 2: 0.0, 3: 0.0}
    geo = {r.docid: r.score
           for r in normalize_fuse([a, b], combination="geometric_mean",
                                   top_n=10).collect()}
    # geometric skips zero scores: doc1 exp((ln1+ln1)/2)=1; doc2/3 dropped
    assert geo == {1: 1.0}
    l2 = {r.docid: r.score
          for r in normalize_fuse([a, b], normalization="l2",
                                  combination="harmonic_mean",
                                  top_n=10).collect()}
    n10 = 10 / (10**2 + 5**2) ** 0.5
    n2 = 2 / (2**2 + 1**2) ** 0.5
    assert abs(l2[1] - 2 / (1 / n10 + 1 / n2)) < 1e-6
    with pytest.raises(ValueError, match="weights"):
        normalize_fuse([a, b], weights=[1.0])
    with pytest.raises(ValueError, match="combination"):
        normalize_fuse([a, b], combination="max")


def test_vector_body_errors(ex, emb001):
    qv = [0.0] * 64
    with pytest.raises(ValueError, match="emb"):
        search_df(ex, {"query": {"knn": {"embedding":
                                         {"vector": qv, "k": 3}}}})
    with pytest.raises(ValueError, match="zero vector"):
        search_df(ex, {"query": {"knn": {"embedding":
                                         {"vector": qv, "k": 3}}}},
                  emb=emb001)
    with pytest.raises(ValueError, match="space_type"):
        search_df(ex, {"query": {"knn": {"embedding":
                                         {"vector": qv, "k": 3,
                                          "space_type": "hamming"}}}},
                  emb=emb001)
    with pytest.raises(ValueError, match="aggs"):
        run_search(ex, {"query": {"knn": {"embedding":
                                          {"vector": qv, "k": 3}}},
                        "aggs": {"l": {"terms": {"field": "lang"}}}},
                   emb=emb001)


def test_body_timeout_and_stored_fields(spark, index_sf0001):
    """`timeout` accepted (documented no-op: timed_out=false reported);
    `stored_fields` fetches doc columns like docvalue_fields."""
    from sparksearch.api import run_search
    from sparksearch.exec import Executor
    ex = Executor(index_sf0001)
    resp = run_search(ex, {
        "query": {"match": {"text": "join"}},
        "size": 3, "timeout": "2s", "stored_fields": ["lang"]})
    assert resp["timed_out"] is False
    assert len(resp["hits"]["hits"]) == 3
    # stored_fields forces the column into the fetched source
    assert all(h["_source"].get("lang")
               for h in resp["hits"]["hits"])


def test_explain_bool_and_phrase_in_body(ex):
    """body explain over bool and match_phrase queries (ExplainPhase
    parity: every hit carries per-clause / pseudo-term breakdowns)."""
    resp = run_search(ex, {
        "query": {"bool": {"must": [{"match": {"text": "join"}}],
                           "should": [{"match": {"text": "fast"}}],
                           "must_not": [{"match": {"text": "error"}}]}},
        "size": 3, "_source": False, "explain": True})
    assert resp["hits"]["hits"]
    for h in resp["hits"]["hits"]:
        exp = h["_explanation"]
        assert exp
        clauses = {e["clause"] for e in exp}
        assert "must[0]:match(text:join)" in clauses
        total = sum(e["contribution"] for e in exp)
        assert abs(total - h["_score"]) < 5e-4
    resp = run_search(ex, {
        "query": {"match_phrase": {"text": "hash join"}},
        "size": 2, "_source": False, "explain": True})
    assert resp["hits"]["hits"]
    for h in resp["hits"]["hits"]:
        exp = h["_explanation"]
        assert len(exp) == 1 and exp[0]["term"] == "hash join"
        assert exp[0]["df"] is None and exp[0]["tf"] >= 1.0
        assert abs(exp[0]["contribution"] - h["_score"]) < 5e-4


def test_completion_regex(ex):
    """Regex completion mode (RegexOptions / RegexCompletionQuery): the
    pattern matches a prefix of the suggestion; literal head stays
    sargable."""
    from sparksearch.fetchops import _regex_literal_head, \
        suggest_completion_regex
    ix = ex.ix
    rows = suggest_completion_regex(ix, "s[ctl]", size=10).collect()
    assert rows and all(r["term"][0] == "s" and r["term"][1] in "ctl"
                        for r in rows)
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    # anchored at start: a mid-word match must NOT qualify
    assert all(not r["term"].startswith("a")
               for r in suggest_completion_regex(ix, "ort", 10).collect())
    assert _regex_literal_head("scan") == "scan"
    assert _regex_literal_head("sc[ae]n") == "sc"
    assert _regex_literal_head("sca?n") == "sc"
    assert _regex_literal_head("(ab)c") == ""


def test_sort_missing_policy(spark):
    """missing=_last default (Spark's bare asc() would put nulls
    first), _first, and literal-substitute forms."""
    from sparksearch.api import _order_col
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "docid int, v int")
    asc_default = [r.docid for r in
                   df.orderBy(_order_col("v", True, "_last"),
                              "docid").collect()]
    assert asc_default == [3, 1, 2]          # null LAST on asc
    asc_first = [r.docid for r in
                 df.orderBy(_order_col("v", True, "_first"),
                            "docid").collect()]
    assert asc_first == [2, 3, 1]
    subst = [r.docid for r in
             df.orderBy(_order_col("v", True, 7), "docid").collect()]
    assert subst == [3, 2, 1]                # null counts as 7


def test_term_suggester_modes_and_prefix(ex):
    """suggest_mode=missing suppresses known inputs; popular requires
    a strictly more frequent candidate; prefix_length=1 prunes
    different-first-letter candidates (TermSuggestionBuilder
    defaults)."""
    from sparksearch.fetchops import suggest_terms
    ix = ex.ix
    # 'join' is indexed -> missing mode yields nothing for it
    out = suggest_terms(ix, "join", suggest_mode="missing").collect()
    assert out == []
    # always mode does suggest alternatives for known terms ('fast' has
    # dist-2 neighbors hash/part; different first letters, so widen the
    # prefix prune)
    alw = suggest_terms(ix, "fast", suggest_mode="always",
                        prefix_length=0).collect()
    assert {r.term for r in alw} >= {"hash", "part"}
    # popular: every suggestion's df exceeds the input's own df
    pop = suggest_terms(ix, "join", suggest_mode="popular").collect()
    join_df = {r.term: r.df for r in
               ix.stats.filter("term = 'join'").collect()}.get("join", 0)
    assert all(r.df > join_df for r in pop)
    # prefix_length=0 readmits different-first-letter candidates
    wide = suggest_terms(ix, "hask", prefix_length=0).collect()
    narrow = suggest_terms(ix, "hask", prefix_length=1).collect()
    assert {r.term for r in narrow} <= {r.term for r in wide}
    assert all(r.term.startswith("h") for r in narrow)
    import pytest as _pt
    with _pt.raises(ValueError):
        suggest_terms(ix, "x", suggest_mode="bogus")


def test_phrase_suggest_collate_prunes_nonmatching(spark, tmp_path):
    """collate drops candidate phrases whose tokens never co-occur in
    one doc (the reference's collate-query pruning stage)."""
    from sparksearch.build import build_index
    from sparksearch.fetchops import suggest_phrase
    from sparksearch.index import IndexReader
    rows = [(f"u{i}", "alpha beta " * 3) for i in range(3)] + \
           [(f"v{i}", "gamma delta " * 3) for i in range(3)]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    out = str(tmp_path / "collix")
    build_index(pages, out, n_buckets=2, partitions=2)
    ix = IndexReader(spark, out)
    # 'alpba gamna' -> candidates alpha/gamma cross beta?&co; only
    # same-doc pairs survive collate
    plain = {r.phrase for r in suggest_phrase(
        ix, "alpba delto", size=10).collect()}
    coll = {r.phrase for r in suggest_phrase(
        ix, "alpba delto", size=10, collate=True).collect()}
    assert "alpha delta" in plain          # cross-doc pair proposed
    assert "alpha delta" not in coll       # ...and collate-pruned
    assert coll <= plain
