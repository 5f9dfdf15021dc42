"""Driver-contract entries, round-2l surface: vector search through the
`_search` request body — the k-NN plugin's `knn` query (literal query
vector, optional lexical pre-filter) and the neural-search `hybrid`
query fused by reciprocal rank, both planned by `api._plan_vector_body`.

The knn score transform mirrors the plugin's cosinesimil distance→score
map: score = (1 + cosine) / 2. The oracle recomputes it from the same
embeddings parquet with DuckDB list lambdas — NO rounding before the
top-k so the selection order matches the engine's exact-score
TakeOrderedAndProject, then round(…, 4) on output like the API's score
column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparksearch import contract as C

_idf, _tfn = C._idf_sql, C._tfn_sql

#: exact cosine (NO round) between e.v and q.v DOUBLE[] lists
_COS_EXACT = """
( list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.v[i]))
  / ( sqrt(list_sum(list_transform(e.v, x -> x * x)))
    * sqrt(list_sum(list_transform(q.v, x -> x * x)))) )
""".strip()

_QVEC_ID = 5          # query vector for every entry below
_HY_POOL = 20         # hybrid pagination_depth == knn leg k


def _qvec(spark, sf_dir) -> list[float]:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return list(emb.where(F.col("vec_id") == _QVEC_ID)
                .collect()[0]["embedding"])


def q_api_knn(spark, sf_dir):
    """Body knn query: literal query vector, k=10, cosinesimil scores
    (1+cos)/2 — the plugin's exact-search scoring."""
    from sparksearch.api import search_df
    _, ex = C.get_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    body = {"query": {"knn": {"embedding": {"vector": _qvec(spark, sf_dir),
                                            "k": 10}}},
            "size": 10, "_source": False}
    return search_df(ex, body, emb=emb).select("docid", "url", "score")


def q_api_knn_filtered(spark, sf_dir):
    """Body knn with a lexical filter: allowed docids are semi-joined
    BEFORE the top-k (the plugin's filtered-search path), so all 8
    results are lang=en."""
    from sparksearch.api import search_df
    _, ex = C.get_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    body = {"query": {"knn": {"embedding": {
                "vector": _qvec(spark, sf_dir), "k": 8,
                "filter": {"term": {"lang": "en"}}}}},
            "size": 8, "_source": {"includes": ["lang"]}}
    return (search_df(ex, body, emb=emb)
            .select("docid", "url", "score", "lang"))


def q_api_hybrid(spark, sf_dir):
    """Body hybrid query: BM25 match leg + knn leg, each a bounded
    top-pagination_depth pool, RRF-fused (rank_constant 60)."""
    from sparksearch.api import search_df
    _, ex = C.get_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    body = {"query": {"hybrid": {
                "queries": [
                    {"match": {"text": "join"}},
                    {"knn": {"embedding": {"vector": _qvec(spark, sf_dir),
                                           "k": _HY_POOL}}}],
                "pagination_depth": _HY_POOL}},
            "size": 10, "_source": False}
    return search_df(ex, body, emb=emb).select("docid", "url", "score")


def q_api_hybrid_minmax(spark, sf_dir):
    """Hybrid with score-normalization fusion instead of RRF: each leg's
    pool is min-max normalized, then combined by weighted arithmetic
    mean (weights 0.4 lexical / 0.6 vector; docs missing from a leg
    contribute 0 for it) — the normalization-processor default."""
    from sparksearch.api import search_df
    _, ex = C.get_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    body = {"query": {"hybrid": {
                "queries": [
                    {"match": {"text": "join"}},
                    {"knn": {"embedding": {"vector": _qvec(spark, sf_dir),
                                           "k": _HY_POOL}}}],
                "pagination_depth": _HY_POOL,
                "normalization": {"technique": "min_max"},
                "combination": {"technique": "arithmetic_mean",
                                "parameters": {"weights": [0.4, 0.6]}}}},
            "size": 10, "_source": False}
    return search_df(ex, body, emb=emb).select("docid", "url", "score")


def q_token_count_field(spark, sf_dir):
    """token_count field type (mapper-extras TokenCountFieldMapper):
    `text_tokens` is the index-time analyzer token count mapped as a
    numeric doc value; sortable/filterable like any stored field. The
    10 longest english docs, longest first."""
    from sparksearch.api import search_df
    from sparksearch.exec import Executor
    _, ex = C.get_engine(spark, sf_dir)
    ex2 = Executor(ex.ix.with_token_count(), fixed_now=ex.fixed_now)
    body = {"query": {"term": {"lang": "en"}},
            "sort": [{"text_tokens": "desc"}, {"docid": "asc"}],
            "size": 10, "_source": {"includes": ["text_tokens"]}}
    return search_df(ex2, body).select("docid", "url", "text_tokens")


def q_api_terminate_after(spark, sf_dir):
    """terminate_after: collection stops after the first 40 matching
    docs IN DOC ORDER (Lucene's per-segment early termination); top-10
    by BM25 is then ranked over that prefix only."""
    from sparksearch.api import search_df
    _, ex = C.get_engine(spark, sf_dir)
    body = {"query": {"match": {"text": "join"}}, "size": 10,
            "terminate_after": 40, "_source": False}
    return search_df(ex, body).select("docid", "url", "score")


_SORTED_IX: dict = {}


def _get_sorted_ix(spark, sf_dir):
    """Index with index_sort=(dl asc) — Lucene index sorting; cached per
    sf_dir like contract.get_engine."""
    import os

    from sparksearch.index import IndexReader

    key = os.path.realpath(sf_dir)
    if key not in _SORTED_IX:
        _SORTED_IX[key] = IndexReader(spark, C.cached_index(
            spark, sf_dir, "sort", index_sort=("dl", True)))
    return _SORTED_IX[key]


def q_index_sorted_topk(spark, sf_dir):
    """Index-sort early termination: shortest docs by analyzer token
    count over an index_sort=(dl asc) layout — the sorted top-k scans a
    manifest-pruned file PREFIX (boundary-exact, ties extend the
    prefix), not the whole docs table; filter context (lang=en) drives
    the iterative-doubling path."""
    from sparksearch.sortedscan import sorted_topk
    ix = _get_sorted_ix(spark, sf_dir)
    return (sorted_topk(ix, 15, asc=True,
                        filter_expr=F.col("lang") == "en")
            .select("docid", "url", "dl"))


#: min-max normalize column s over the whole (bounded) CTE
_MM = ("CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0 "
       "ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ()) END")


def oracle_sql() -> dict:
    P, TOK, DL = C._PAGES, C._TOK, C._DL

    knn_base = f"""
e AS ( SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings ),
q AS ( SELECT embedding::DOUBLE[] AS v FROM embeddings
       WHERE vec_id = {_QVEC_ID} ),
vs AS ( SELECT e.vec_id, (1 + {_COS_EXACT}) / 2 AS s FROM e, q )
""".strip()

    out = {}
    out["api_knn"] = f"""
WITH {P},
{knn_base},
topk AS ( SELECT vec_id, s FROM vs ORDER BY s DESC, vec_id ASC LIMIT 10 )
SELECT p.docid, p.url, CAST(round(t.s, 4) AS DOUBLE) AS score
FROM topk t JOIN pages p ON CAST(right(p.url, 8) AS BIGINT) = t.vec_id
ORDER BY round(t.s, 4) DESC, p.docid ASC
""".strip()

    out["api_knn_filtered"] = f"""
WITH {P},
{knn_base},
allowed AS ( SELECT docid, url, lang FROM pages WHERE lang = 'en' ),
cand AS ( SELECT a.docid, a.url, a.lang, vs.s
          FROM vs JOIN allowed a
            ON CAST(right(a.url, 8) AS BIGINT) = vs.vec_id ),
topk AS ( SELECT * FROM cand ORDER BY s DESC, docid ASC LIMIT 8 )
SELECT docid, url, CAST(round(s, 4) AS DOUBLE) AS score, lang
FROM topk
ORDER BY round(s, 4) DESC, docid ASC
""".strip()

    # hybrid: BM25 pool ranks by EXACT score (the engine's plan-path
    # top-k), knn pool ranks by exact (1+cos)/2 after the docid mapping;
    # fused = round6 (rrf_fuse) then round4 (the API score column)
    out["api_hybrid"] = f"""
WITH {P}, {TOK}, {DL},
tf AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'join'
        GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tf ),
sc AS ( SELECT tf.docid, {_idf('dft.df', 'g.n')} *
               {_tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')} AS s
        FROM tf CROSS JOIN dft JOIN dlq USING (docid) CROSS JOIN g ),
bm_pool AS ( SELECT docid, s FROM sc
             ORDER BY s DESC, docid ASC LIMIT {_HY_POOL} ),
bm AS ( SELECT docid, row_number() OVER (ORDER BY s DESC, docid ASC) AS r
        FROM bm_pool ),
{knn_base},
ktop AS ( SELECT vec_id, s FROM vs
          ORDER BY s DESC, vec_id ASC LIMIT {_HY_POOL} ),
kd AS ( SELECT p.docid, t.s
        FROM ktop t JOIN pages p
          ON CAST(right(p.url, 8) AS BIGINT) = t.vec_id ),
kn AS ( SELECT docid, row_number() OVER (ORDER BY s DESC, docid ASC) AS r
        FROM kd ),
fused AS ( SELECT docid, round(sum(1.0 / (60 + r)), 6) AS s
           FROM ( SELECT docid, r FROM bm
                  UNION ALL SELECT docid, r FROM kn )
           GROUP BY docid
           ORDER BY round(sum(1.0 / (60 + r)), 6) DESC, docid ASC
           LIMIT {_HY_POOL} )
SELECT p.docid, p.url, CAST(round(f.s, 4) AS DOUBLE) AS score
FROM fused f JOIN pages p USING (docid)
ORDER BY round(f.s, 4) DESC, p.docid ASC
LIMIT 10
""".strip()

    out["api_terminate_after"] = f"""
WITH {P}, {TOK}, {DL},
tf AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'join'
        GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tf ),
sc AS ( SELECT tf.docid, {_idf('dft.df', 'g.n')} *
               {_tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')} AS s
        FROM tf CROSS JOIN dft JOIN dlq USING (docid) CROSS JOIN g ),
coll AS ( SELECT docid, s FROM sc ORDER BY docid ASC LIMIT 40 )
SELECT p.docid, p.url, CAST(round(c.s, 4) AS DOUBLE) AS score
FROM coll c JOIN pages p USING (docid)
ORDER BY round(c.s, 4) DESC, p.docid ASC
LIMIT 10
""".strip()

    out["index_sorted_topk"] = f"""
WITH {P}, {TOK},
dl AS ( SELECT docid, count(*) AS dl FROM tok GROUP BY docid )
SELECT p.docid, p.url, CAST(d.dl AS INT) AS dl
FROM pages p JOIN dl d USING (docid)
WHERE p.lang = 'en'
ORDER BY d.dl ASC, p.docid ASC
LIMIT 15
""".strip()

    out["token_count_field"] = f"""
WITH {P}, {TOK},
dl AS ( SELECT docid, count(*) AS text_tokens FROM tok GROUP BY docid )
SELECT p.docid, p.url, CAST(d.text_tokens AS INT) AS text_tokens
FROM pages p JOIN dl d USING (docid)
WHERE p.lang = 'en'
ORDER BY d.text_tokens DESC, p.docid ASC
LIMIT 10
""".strip()

    out["api_hybrid_minmax"] = f"""
WITH {P}, {TOK}, {DL},
tf AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'join'
        GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tf ),
sc AS ( SELECT tf.docid, {_idf('dft.df', 'g.n')} *
               {_tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')} AS s
        FROM tf CROSS JOIN dft JOIN dlq USING (docid) CROSS JOIN g ),
bm_pool AS ( SELECT docid, s FROM sc
             ORDER BY s DESC, docid ASC LIMIT {_HY_POOL} ),
bmn AS ( SELECT docid, 0.4 * ({_MM}) AS c FROM bm_pool ),
{knn_base},
ktop AS ( SELECT vec_id, s FROM vs
          ORDER BY s DESC, vec_id ASC LIMIT {_HY_POOL} ),
kd AS ( SELECT p.docid, t.s
        FROM ktop t JOIN pages p
          ON CAST(right(p.url, 8) AS BIGINT) = t.vec_id ),
knn AS ( SELECT docid, 0.6 * ({_MM}) AS c FROM kd ),
fused AS ( SELECT docid, round(sum(c) / 1.0, 6) AS s
           FROM ( SELECT * FROM bmn UNION ALL SELECT * FROM knn )
           GROUP BY docid
           ORDER BY round(sum(c) / 1.0, 6) DESC, docid ASC
           LIMIT {_HY_POOL} )
SELECT p.docid, p.url, CAST(round(f.s, 4) AS DOUBLE) AS score
FROM fused f JOIN pages p USING (docid)
ORDER BY round(f.s, 4) DESC, p.docid ASC
LIMIT 10
""".strip()
    return out


def queries() -> dict:
    return {
        "api_knn": q_api_knn,
        "api_knn_filtered": q_api_knn_filtered,
        "api_hybrid": q_api_hybrid,
        "api_hybrid_minmax": q_api_hybrid_minmax,
        "token_count_field": q_token_count_field,
        "index_sorted_topk": q_index_sorted_topk,
        "api_terminate_after": q_api_terminate_after,
    }
