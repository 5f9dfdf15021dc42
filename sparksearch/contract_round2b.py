"""Driver-contract entries, round-2b surface: global agg, percentile_ranks,
sibling-bucket pipeline aggs (avg/sum/min/max/stats_bucket), rank_eval
DCG/nDCG, script sort, and the JSON-DSL + search-template front-end
(dsl.py). Reference cites in each operator's docstring; oracles follow the
contract.py pattern (DuckDB SQL over the identical derived pages corpus).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sparksearch import contract as C
from sparksearch.queries import Match

_M_JOIN = "m AS ( SELECT DISTINCT docid FROM tok WHERE term = 'join' )"
_RELEVANT_K = 5


def _ex(spark, sf_dir):
    return C.get_engine(spark, sf_dir)[1]


# ---------------------------------------------------------------------------
# Spark sides
# ---------------------------------------------------------------------------

def q_global(spark, sf_dir):
    from sparksearch.aggs import global_agg
    return global_agg(_ex(spark, sf_dir), Match("text", "join"), field="dl")


def q_percentile_ranks(spark, sf_dir):
    from sparksearch.aggs import percentile_ranks_agg
    ex = _ex(spark, sf_dir)
    return percentile_ranks_agg(ex.ix.docs, "dl", [30.0, 60.0])


def q_bucket_metrics(spark, sf_dir):
    from sparksearch.aggs import bucket_metrics, matched_docs
    ex = _ex(spark, sf_dir)
    buckets = (matched_docs(ex, Match("text", "join"))
               .groupBy("lang")
               .agg(F.count("*").cast("long").alias("doc_count")))
    return bucket_metrics(buckets, metric="doc_count", key="lang")


def q_percentiles_bucket(spark, sf_dir):
    from sparksearch.aggs import matched_docs, percentiles_bucket
    ex = _ex(spark, sf_dir)
    buckets = (matched_docs(ex, Match("text", "join"))
               .groupBy("lang")
               .agg(F.count("*").cast("long").alias("doc_count")))
    return percentiles_bucket(buckets, metric="doc_count",
                              pcts=[0.25, 0.5, 0.75])


def q_exists_ids(spark, sf_dir):
    """exists + ids doc-values queries through the executor's bool path
    (sv/index/query/ExistsQueryBuilder.java, IdsQueryBuilder.java)."""
    from sparksearch.queries import Bool, Exists, Ids
    ex = _ex(spark, sf_dir)
    ids = [r["url"] for r in
           ex.ix.docs.orderBy("docid").limit(8).select("url").collect()]
    q = Bool(filter=[Exists("lang"), Ids(tuple(ids))])
    hits = ex._plan(q, scored=False).select("docid")
    return (ex.ix.docs.join(hits, "docid")
            .select("docid", "url", "lang").orderBy("docid"))


def q_span_first(spark, sf_dir):
    from sparksearch.queries import SpanFirst
    return C.topk_rounded(_ex(spark, sf_dir),
                          SpanFirst("text", ("join",), end=12), k=10)


def q_span_or(spark, sf_dir):
    from sparksearch.queries import SpanOr
    return C.topk_rounded(_ex(spark, sf_dir),
                          SpanOr("text", ("fast", "slow")), k=10)


def q_span_not(spark, sf_dir):
    from sparksearch.queries import SpanNot
    return C.topk_rounded(_ex(spark, sf_dir),
                          SpanNot("text", "join", "hash", pre=1, post=1),
                          k=10)


def q_span_within(spark, sf_dir):
    from sparksearch.queries import SpanWithin
    return C.topk_rounded(_ex(spark, sf_dir),
                          SpanWithin("text", "fast", ("hash", "join"),
                                     big_slop=4, mode="within"), k=10)


def q_span_containing(spark, sf_dir):
    from sparksearch.queries import SpanWithin
    return C.topk_rounded(_ex(spark, sf_dir),
                          SpanWithin("text", "fast", ("hash", "join"),
                                     big_slop=4, mode="containing"), k=10)


def q_span_multi(spark, sf_dir):
    from sparksearch.queries import SpanMulti, TextPrefix
    return C.topk_rounded(_ex(spark, sf_dir),
                          SpanMulti("text", TextPrefix("text", "jo")), k=10)


def q_terms_set(spark, sf_dir):
    from sparksearch.queries import TermsSet
    return C.topk_rounded(_ex(spark, sf_dir),
                          TermsSet("text", ("join", "fast", "slow"),
                                   required=2), k=10)


def q_query_string_multiterm(spark, sf_dir):
    """query_string with a wildcard atom: 'hash AND jo*' — the prefix leg
    expands over the dictionary (constant 1.0), summed with the BM25
    match leg inside the bool (QueryStringQueryParser getWildcardQuery)."""
    from sparksearch.qs_parser import parse_query_string
    q = parse_query_string("hash AND jo*")
    return C.topk_rounded(_ex(spark, sf_dir), q, k=10)


def q_index_stats(spark, sf_dir):
    """_stats API: committed index-level statistics must equal an
    independent SQL recount of the corpus (integrity check of the whole
    build's bookkeeping)."""
    from sparksearch.index import index_stats
    ix, _ = C.get_engine(spark, sf_dir)
    return index_stats(ix).select("n_docs", "n_terms", "total_tf", "avgdl")


def q_msearch(spark, sf_dir):
    """_msearch: three match queries fused into one scan+shuffle job. As
    in contract.wand_topk_rounded, each query's exact top-50 is rounded
    to 4 decimals, re-sorted by (rounded score, docid) and cut to 10, so
    the boundary tie-break matches the SQL oracle's."""
    from pyspark.sql import Window
    ex = _ex(spark, sf_dir)
    wide = ex.msearch({
        "q1": Match("text", "hash join"),
        "q2": Match("text", "table scan", operator="and"),
        "q3": Match("text", "fast slow scan", minimum_should_match=2),
    }, k=50).withColumn("score", F.round("score", 4))
    rn = F.row_number().over(Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("docid").asc()))
    return (wide.withColumn("_rn", rn).filter(F.col("_rn") <= 10)
            .drop("_rn")
            .orderBy("query_id", F.col("score").desc(), F.col("docid").asc()))


def q_term_vectors(spark, sf_dir):
    from sparksearch.fetchops import term_vectors
    ix, _ = C.get_engine(spark, sf_dir)
    tv = term_vectors(ix, C.pages_df(spark, sf_dir), docid=7)
    # gate output stringifies the positions array — the driver's
    # canonicalizer can only sort/hash scalar columns
    return tv.withColumn(
        "positions",
        F.concat_ws(",", F.col("positions").cast("array<string>")))


def q_explain(spark, sf_dir):
    from sparksearch.fetchops import explain
    ex = _ex(spark, sf_dir)
    target = C.topk_rounded(ex, Match("text", "hash join"), k=1).collect()
    return explain(ex, Match("text", "hash join"),
                   docid=target[0]["docid"])


def q_rank_eval_ndcg(spark, sf_dir):
    """rank_eval DCG@10 / nDCG@10 (binary relevance; rated set = top-5 of
    the stricter AND query — modules/rank-eval/.../DiscountedCumulativeGain
    normalizes by the ideal ordering of the rated set)."""
    from pyspark.sql import Window
    ex = _ex(spark, sf_dir)
    rated = C.topk_rounded(ex, Match("text", "hash join", operator="and"),
                           k=_RELEVANT_K).select("docid")
    ranked = (C.topk_rounded(ex, Match("text", "hash join"), k=10)
              .select("docid", "score"))
    w = F.row_number().over(
        Window.orderBy(F.col("score").desc(), F.col("docid").asc()))
    j = (ranked.withColumn("rank", w)
         .join(F.broadcast(rated.withColumn("_rel", F.lit(1))),
               "docid", "left"))
    idcg = sum(1.0 / math.log2(i + 1)
               for i in range(1, min(_RELEVANT_K, 10) + 1))
    dcg = F.sum(F.coalesce(F.col("_rel"), F.lit(0)).cast("double")
                / F.log2(F.col("rank") + 1))
    return j.agg(F.round(dcg, 6).alias("dcg_at_10"),
                 F.round(dcg / F.lit(idcg), 6).alias("ndcg_at_10"))


def q_sort_by_script(spark, sf_dir):
    """script sort — order by an arbitrary per-doc expression
    (sv/search/sort/ScriptSortBuilder.java); pure column expr here."""
    from sparksearch.contract import get_engine
    ix, _ = get_engine(spark, sf_dir)
    return (ix.docs
            .select("docid", "url", "dl",
                    (F.col("dl") % 7).cast("long").alias("sort_key"))
            .orderBy(F.col("sort_key").desc(), F.col("docid").asc())
            .limit(20))


_TEMPLATE = {
    "query": {
        "match": {
            "text": {"query": "{{qtext}}", "operator": "{{op}}"},
        },
    },
    "size": "{{size}}",
}


def q_search_template(spark, sf_dir):
    """_search/template: render mustache params into the JSON DSL, parse,
    execute (modules/lang-mustache + SearchModule query registry)."""
    from sparksearch.dsl import from_dsl, render_template
    body = render_template(
        _TEMPLATE, {"qtext": "hash join table", "op": "and", "size": 10})
    q = from_dsl(body["query"])
    return C.topk_rounded(_ex(spark, sf_dir), q, k=int(body["size"]))


def q_dsl_bool(spark, sf_dir):
    """JSON-DSL bool request parsed by dsl.from_dsl, run via the engine."""
    from sparksearch.dsl import from_dsl
    q = from_dsl({
        "bool": {
            "must": [{"match": {"text": "join fast"}}],
            "must_not": [{"match": {"text": "error"}}],
            "filter": [{"term": {"lang": "en"}},
                       {"range": {"warc_ts": {"gte": "2025-01-01 00:01:00"}}}],
        },
    })
    return C.topk_rounded(_ex(spark, sf_dir), q, k=10)


# ---------------------------------------------------------------------------
# oracle SQL twins
# ---------------------------------------------------------------------------

def sqls() -> dict[str, str]:
    P, TOK, DL = C._PAGES, C._TOK, C._DL
    idf, tfn = C._idf_sql, C._tfn_sql
    out = {}

    out["agg_global"] = f"""
WITH {P}, {TOK}, {DL}, {_M_JOIN}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS query_doc_count,
       CAST(count(*) AS BIGINT) AS global_doc_count,
       CAST(round(avg(CAST(dl AS DOUBLE)), 6) AS DOUBLE) AS global_avg
FROM dlq
"""

    out["agg_percentile_ranks"] = f"""
WITH {P}, {TOK}, {DL},
r AS ( SELECT
  avg(CASE WHEN CAST(dl AS DOUBLE) <= 30.0 THEN 100.0 ELSE 0.0 END) AS r0,
  avg(CASE WHEN CAST(dl AS DOUBLE) <= 60.0 THEN 100.0 ELSE 0.0 END) AS r1
  FROM dlq )
SELECT 30.0 AS value, CAST(round(r0, 6) AS DOUBLE) AS pct FROM r
UNION ALL
SELECT 60.0, CAST(round(r1, 6) AS DOUBLE) FROM r
ORDER BY value
"""

    out["agg_bucket_metrics"] = f"""
WITH {P}, {TOK}, {_M_JOIN},
buckets AS ( SELECT p.lang, CAST(count(*) AS DOUBLE) AS v
             FROM pages p JOIN m USING (docid) GROUP BY p.lang ),
ext AS ( SELECT min(v) AS mn, max(v) AS mx FROM buckets )
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(round(avg(v), 6) AS DOUBLE) AS avg_bucket,
       CAST(round(sum(v), 6) AS DOUBLE) AS sum_bucket,
       CAST(ext.mn AS DOUBLE) AS min_bucket,
       CAST(ext.mx AS DOUBLE) AS max_bucket,
       string_agg(CASE WHEN v = ext.mn THEN lang END, ',' ORDER BY lang)
         AS min_keys,
       string_agg(CASE WHEN v = ext.mx THEN lang END, ',' ORDER BY lang)
         AS max_keys
FROM buckets CROSS JOIN ext GROUP BY ext.mn, ext.mx
"""

    out["agg_percentiles_bucket"] = f"""
WITH {P}, {TOK}, {_M_JOIN},
buckets AS ( SELECT p.lang, CAST(count(*) AS DOUBLE) AS v
             FROM pages p JOIN m USING (docid) GROUP BY p.lang )
SELECT CAST(round(quantile_cont(v, 0.25), 6) AS DOUBLE) AS p25,
       CAST(round(quantile_cont(v, 0.50), 6) AS DOUBLE) AS p50,
       CAST(round(quantile_cont(v, 0.75), 6) AS DOUBLE) AS p75
FROM buckets
"""

    out["query_exists_ids"] = f"""
WITH {P},
ids AS ( SELECT url FROM pages ORDER BY docid LIMIT 8 )
SELECT docid, url, lang FROM pages
WHERE lang IS NOT NULL AND url IN ( SELECT url FROM ids )
ORDER BY docid
"""

    idcg = sum(1.0 / math.log2(i + 1)
               for i in range(1, min(_RELEVANT_K, 10) + 1))
    out["rank_eval_ndcg"] = f"""
WITH rated AS ( {C.match_sql('hash join', operator='and', k=_RELEVANT_K)} ),
ranked AS ( {C.match_sql('hash join', k=10)} ),
rr AS ( SELECT docid, score,
        row_number() OVER (ORDER BY score DESC, docid ASC) AS rank
        FROM ranked ),
j AS ( SELECT rr.rank,
              CASE WHEN rated.docid IS NOT NULL THEN 1.0 ELSE 0.0 END AS rel
       FROM rr LEFT JOIN rated ON rated.docid = rr.docid )
SELECT CAST(round(sum(rel / log2(rank + 1)), 6) AS DOUBLE) AS dcg_at_10,
       CAST(round(sum(rel / log2(rank + 1)) / {idcg!r}, 6) AS DOUBLE)
         AS ndcg_at_10
FROM j
"""

    out["sort_by_script"] = f"""
WITH {P}, {TOK}, {DL}
SELECT p.docid, p.url, CAST(dlq.dl AS BIGINT) AS dl,
       CAST(dlq.dl % 7 AS BIGINT) AS sort_key
FROM pages p JOIN dlq USING (docid)
ORDER BY dlq.dl % 7 DESC, p.docid ASC
LIMIT 20
"""

    out["search_template"] = C.match_sql("hash join table", operator="and")

    from sparksearch import contract_queries2 as CQ2
    span_base = "WITH " + ",\n".join(CQ2._span_base())
    out["span_first"] = span_base + f""",
mm AS ( SELECT docid, pos FROM tokpos WHERE term = 'join' AND pos < 12 ),
ph AS ( SELECT docid, CAST(count(DISTINCT pos) AS DOUBLE) AS pf
        FROM mm GROUP BY docid ),
{CQ2._span_score_tail(['join'])}
"""
    out["span_or"] = span_base + f""",
mm AS ( SELECT DISTINCT docid, pos FROM tokpos
        WHERE term IN ('fast', 'slow') ),
ph AS ( SELECT docid, CAST(count(DISTINCT pos) AS DOUBLE) AS pf
        FROM mm GROUP BY docid ),
{CQ2._span_score_tail(['fast', 'slow'])}
"""
    out["span_not"] = span_base + f""",
inc AS ( SELECT docid, pos FROM tokpos WHERE term = 'join' ),
exc AS ( SELECT docid, pos FROM tokpos WHERE term = 'hash' ),
mm AS ( SELECT i.docid, i.pos FROM inc i
        WHERE NOT EXISTS ( SELECT 1 FROM exc x
                           WHERE x.docid = i.docid
                             AND x.pos BETWEEN i.pos - 1 AND i.pos + 1 ) ),
ph AS ( SELECT docid, CAST(count(DISTINCT pos) AS DOUBLE) AS pf
        FROM mm GROUP BY docid ),
{CQ2._span_score_tail(['join'])}
"""
    big_wins = """
p0 AS ( SELECT docid, pos FROM tokpos WHERE term = 'hash' ),
p1 AS ( SELECT docid, pos FROM tokpos WHERE term = 'join' ),
wins AS ( SELECT p0.docid, p0.pos AS lo, p1.pos AS hi FROM p0
          JOIN p1 ON p1.docid = p0.docid AND p1.pos > p0.pos
          AND (p1.pos - p0.pos - 1) <= 4 ),
lt AS ( SELECT docid, pos FROM tokpos WHERE term = 'fast' ),
j AS ( SELECT w.docid, w.lo, l.pos AS lp FROM wins w
       JOIN lt l ON l.docid = w.docid
       AND l.pos BETWEEN w.lo AND w.hi )""".strip()
    out["span_within"] = span_base + f""",
{big_wins},
ph AS ( SELECT docid, CAST(count(DISTINCT lp) AS DOUBLE) AS pf
        FROM j GROUP BY docid ),
{CQ2._span_score_tail(['fast'])}
"""
    out["span_containing"] = span_base + f""",
{big_wins},
ph AS ( SELECT docid, CAST(count(DISTINCT lo) AS DOUBLE) AS pf
        FROM j GROUP BY docid ),
{CQ2._span_score_tail(['hash', 'join'])}
"""

    out["terms_set"] = C.match_sql("join fast slow", msm=2)

    out["span_multi"] = span_base + f""",
exp AS ( SELECT term FROM ( SELECT DISTINCT term FROM tok )
         WHERE term LIKE 'jo%' ORDER BY term LIMIT 50 ),
dft AS ( SELECT term, count(DISTINCT docid) AS df FROM tok GROUP BY term ),
sidf AS ( SELECT sum({idf('dft.df', 'g.n')}) AS sum_idf
          FROM dft JOIN exp USING (term) CROSS JOIN g ),
mm AS ( SELECT DISTINCT t.docid, t.pos FROM tokpos t JOIN exp USING (term) ),
ph AS ( SELECT docid, CAST(count(DISTINCT pos) AS DOUBLE) AS pf
        FROM mm GROUP BY docid ),
sc AS ( SELECT ph.docid,
               sidf.sum_idf * {tfn('ph.pf', 'dlq.dl_q', 'g.avgdl')} AS score
        FROM ph JOIN dlq USING (docid) CROSS JOIN g CROSS JOIN sidf )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
"""

    out["query_string_multiterm"] = f"""
WITH {P}, {TOK}, {DL},
tf AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'hash'
        GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tf ),
pfx AS ( SELECT DISTINCT docid FROM tok WHERE term LIKE 'jo%' ),
sc AS ( SELECT tf.docid,
               {idf('dft.df', 'g.n')} * {tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')}
               + 1.0 AS score
        FROM tf CROSS JOIN dft JOIN dlq USING (docid) CROSS JOIN g
        JOIN pfx USING (docid) )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
"""

    out["index_stats"] = f"""
WITH {P}, {TOK}
SELECT CAST(count(DISTINCT docid) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS total_tf,
       CAST(round(count(*) / CAST(count(DISTINCT docid) AS DOUBLE), 6)
            AS DOUBLE) AS avgdl
FROM tok
"""

    def _leg(qid: str, sql: str) -> str:
        return (f"SELECT '{qid}' AS query_id, docid, url, score "
                f"FROM ( {sql} )")

    out["msearch"] = "\nUNION ALL\n".join([
        _leg("q1", C.match_sql("hash join")),
        _leg("q2", C.match_sql("table scan", operator="and")),
        _leg("q3", C.match_sql("fast slow scan", msm=2)),
    ]) + "\nORDER BY query_id, score DESC, docid ASC"

    out["term_vectors"] = f"""
WITH {C._PAGES}, {C._TOKPOS}
SELECT term, CAST(count(*) AS BIGINT) AS tf,
       array_to_string(list(pos ORDER BY pos), ',') AS positions
FROM tokpos WHERE docid = 7 GROUP BY term ORDER BY term
"""

    _idf_e = idf('dft.df', 'g.n')
    _tfn_e = tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')
    out["query_explain"] = f"""
WITH {P}, {TOK}, {DL},
tf AS ( SELECT docid, term, count(*) AS tf FROM tok
        WHERE term IN ('hash','join') GROUP BY docid, term ),
dft AS ( SELECT term, count(*) AS df FROM tf GROUP BY term ),
sc AS ( SELECT tf.docid, sum({_idf_e} * {_tfn_e}) AS score
        FROM tf JOIN dft USING (term) JOIN dlq USING (docid) CROSS JOIN g
        GROUP BY tf.docid ),
top1 AS ( SELECT docid FROM sc
          ORDER BY round(score, 4) DESC, docid ASC LIMIT 1 )
SELECT tf.term, CAST(tf.tf AS BIGINT) AS tf, CAST(dft.df AS BIGINT) AS df,
       CAST(round({_idf_e}, 6) AS DOUBLE) AS idf,
       CAST(round({_tfn_e}, 6) AS DOUBLE) AS tfn,
       CAST(1.0 AS DOUBLE) AS weight,
       CAST(round({_idf_e} * {_tfn_e}, 6) AS DOUBLE) AS contribution
FROM tf JOIN top1 USING (docid) JOIN dft USING (term)
     JOIN dlq USING (docid) CROSS JOIN g
ORDER BY tf.term
"""

    out["query_dsl_bool"] = f"""
WITH {P}, {TOK}, {DL},
tf AS ( SELECT docid, term, count(*) AS tf FROM tok
        WHERE term IN ('join','fast','error') GROUP BY docid, term ),
dft AS ( SELECT term, count(*) AS df FROM tf GROUP BY term ),
sc AS ( SELECT tf.docid, tf.term,
               {idf('dft.df', 'g.n')} * {tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')}
               AS s
        FROM tf JOIN dft USING (term) JOIN dlq USING (docid) CROSS JOIN g ),
agg AS ( SELECT docid,
                sum(CASE WHEN term IN ('join','fast') THEN s ELSE 0 END)
                  AS s_must,
                bool_or(term IN ('join','fast')) AS has_must,
                bool_or(term = 'error') AS has_not
         FROM sc GROUP BY docid )
SELECT p.docid, p.url, round(agg.s_must, 4) AS score
FROM agg JOIN pages p USING (docid)
WHERE agg.has_must AND NOT agg.has_not
  AND p.lang = 'en' AND p.warc_ts >= TIMESTAMP '2025-01-01 00:01:00'
ORDER BY round(agg.s_must, 4) DESC, p.docid ASC
LIMIT 10
"""
    return {k: v.strip() for k, v in out.items()}


def queries() -> dict:
    return {
        "agg_global": q_global,
        "agg_percentile_ranks": q_percentile_ranks,
        "agg_bucket_metrics": q_bucket_metrics,
        "agg_percentiles_bucket": q_percentiles_bucket,
        "query_exists_ids": q_exists_ids,
        "span_first": q_span_first,
        "span_or": q_span_or,
        "span_not": q_span_not,
        "span_within": q_span_within,
        "span_containing": q_span_containing,
        "terms_set": q_terms_set,
        "span_multi": q_span_multi,
        "term_vectors": q_term_vectors,
        "query_explain": q_explain,
        "msearch": q_msearch,
        "index_stats": q_index_stats,
        "query_string_multiterm": q_query_string_multiterm,
        "rank_eval_ndcg": q_rank_eval_ndcg,
        "sort_by_script": q_sort_by_script,
        "search_template": q_search_template,
        "query_dsl_bool": q_dsl_bool,
    }


def oracle_sql() -> dict:
    return sqls()
