"""Driver-contract entries, round-2c surface: the Painless-subset script
engine (script query / script_fields / script_score), soft-delete
delete-by-query, hybrid BM25+kNN rank fusion, and fetch options.

Scripts compile to Catalyst columns (sparksearch/painless.py) — the oracle
SQL re-states each script as the equivalent DuckDB expression, so the gate
checks the compiler's semantics end-to-end, not just plumbing.
Reference cites: modules/lang-painless (grammar),
sv/index/query/ScriptQueryBuilder.java,
sv/search/fetch/subphase/ScriptFieldsPhase.java,
sv/index/query/functionscore/ScriptScoreFunctionBuilder.java.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparksearch import contract as C
from sparksearch.queries import Bool, FunctionScore, Match, Script, \
    ScriptScore

_idf, _tfn = C._idf_sql, C._tfn_sql

#: BM25 scores for the single query term 'join' (shared oracle fragment)
_SC_JOIN = f"""
tf AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'join'
        GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tf ),
sc AS ( SELECT tf.docid,
               {_idf('dft.df', 'g.n')} * {_tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')}
               AS score
        FROM tf CROSS JOIN dft JOIN dlq USING (docid) CROSS JOIN g )
""".strip()


# ---------------------------------------------------------------------------
# Spark sides
# ---------------------------------------------------------------------------

def q_script_query(spark, sf_dir):
    """`script` query in a bool filter context: the Painless predicate is
    compiled into the SAME fused docs-scan as the other docvalue filters
    (sv/index/query/ScriptQueryBuilder.java)."""
    ix, ex = C.get_engine(spark, sf_dir)
    q = Bool(must=[Match("text", "join")],
             filter=[Script("doc['lang'].value == 'en' && "
                            "doc['dl'].value > params.min_dl",
                            {"min_dl": 30})])
    return C.topk_rounded(ex, q, k=10)


def q_script_fields(spark, sf_dir):
    """Fetch-phase script_fields over the match top-10
    (sv/search/fetch/subphase/ScriptFieldsPhase.java)."""
    from sparksearch.fetchops import script_fields
    ix, ex = C.get_engine(spark, sf_dir)
    hits = C.topk_rounded(ex, Match("text", "join"), k=10)
    out = script_fields(
        ix, hits,
        {"dl_log": "Math.log(doc['dl'].value) * params.f",
         "url_len": "doc['url'].value.length()",
         "band": "doc['dl'].value > params.cut ? 'long' : 'short'"},
        params={"f": 0.5, "cut": 40})
    return out.select("docid", "url", "score", "band",
                      F.round("dl_log", 4).alias("dl_log"),
                      F.col("url_len").cast("int").alias("url_len"))


def q_script_score(spark, sf_dir):
    """script_score query: sigmoid(dl) re-ranker replacing the BM25 score
    (sv/index/query/functionscore/ScriptScoreFunctionBuilder.java)."""
    _, ex = C.get_engine(spark, sf_dir)
    q = FunctionScore(
        query=Match("text", "join"),
        functions=[ScriptScore(
            "_score / (1 + Math.exp(-doc['dl'].value / params.s)) "
            "+ Math.sqrt(doc['dl'].value) * 0.1",
            {"s": 40.0})],
        boost_mode="replace")
    return C.topk_rounded(ex, q, k=10)


# ---------------------------------------------------------------------------
# soft deletes (delete_by_query + expunge merge)
# ---------------------------------------------------------------------------

def _derived_index(spark, sf_dir, expunge: bool):
    """Copy of the shared base index with lang='de' tombstoned via
    delete_by_query; `expunge=True` additionally runs the expunge merge.
    Cached per (sf_dir, variant) like contract.get_engine."""
    import shutil

    from sparksearch.deletes import delete_by_query, expunge_deletes
    from sparksearch.queries import Term

    ix, _ = C.get_engine(spark, sf_dir)
    out = ix.index_dir + ("_expunged" if expunge else "_deleted")
    m = C.current_meta(out)
    if not (m and m.get("expunged" if expunge else "deletes")):
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(ix.index_dir, out)
        n = delete_by_query(spark, out, Term("lang", "de"))
        assert n > 0
        if expunge:
            expunge_deletes(spark, out, partitions=8)
    return out


def _derived_ex(spark, sf_dir, expunge: bool):
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    return Executor(IndexReader(spark, _derived_index(spark, sf_dir,
                                                      expunge)))


def q_delete_by_query(spark, sf_dir):
    """Pre-merge liveDocs semantics: results exclude tombstoned docs while
    BM25 stats (df, N, avgdl) still count them — Lucene deleted-doc
    behavior between delete and merge
    (modules/reindex TransportDeleteByQueryAction.java)."""
    return C.topk_rounded(_derived_ex(spark, sf_dir, expunge=False),
                          Match("text", "join"), k=10)


def q_expunge_deletes(spark, sf_dir):
    """Post-merge semantics: the expunge pass rewrote docs/postings/stats,
    so scores equal a fresh build over the surviving corpus
    (`_forcemerge?only_expunge_deletes=true`)."""
    return C.topk_rounded(_derived_ex(spark, sf_dir, expunge=True),
                          Match("text", "join"), k=10)


# ---------------------------------------------------------------------------
# fetch options + rank_feature
# ---------------------------------------------------------------------------

def q_min_score(spark, sf_dir):
    """Search `min_score`: hits below the cutoff drop before the top-k cut
    (SearchContext.minimumScore) — here deliberately cutting INSIDE the
    match result so the filter provably bites."""
    _, ex = C.get_engine(spark, sf_dir)
    hits = (ex.search(Match("text", "join"), k=1000, fetch=False,
                      min_score=0.33)
            .select("docid", F.round("score", 4).alias("score")))
    return (ex.ix.docs.select("docid", "url")
            .join(F.broadcast(hits), "docid")
            .select("docid", "url", "score")
            .orderBy(F.col("score").desc(), F.col("docid").asc()))


def q_source_filtering(spark, sf_dir):
    """`_source` includes/excludes with glob patterns on the fetch phase
    (FetchSourcePhase; `la*` keeps lang, excludes drop warc_ts)."""
    from sparksearch.fetchops import fetch_source
    ix, ex = C.get_engine(spark, sf_dir)
    hits = C.topk_rounded(ex, Match("text", "join"), k=10)
    out = fetch_source(ix, hits, includes=["la*", "dl", "warc_ts"],
                       excludes=["warc_*"])
    return out.select("docid", "url", "score", "lang",
                      F.col("dl").cast("long").alias("dl"))


def q_rank_feature(spark, sf_dir):
    """rank_feature saturation over the doc-length feature, composed with
    a match in a bool should (the documented usage: feature-boosted
    relevance; RankFeatureQueryBuilder)."""
    from sparksearch.queries import RankFeature
    _, ex = C.get_engine(spark, sf_dir)
    q = Bool(must=[Match("text", "join")],
             should=[RankFeature("dl", function="saturation", pivot=50.0,
                                 boost=0.5)])
    return C.topk_rounded(ex, q, k=10)


# ---------------------------------------------------------------------------
# span_gap (the last span-family member)
# ---------------------------------------------------------------------------

def q_span_gap(spark, sf_dir):
    """span_near [hash, gap(1), table] slop=0: exactly one token between —
    the gap consumes a position and counts as span length, not slop
    (SpanGapQueryBuilder)."""
    from sparksearch.queries import SpanGap, SpanNear
    _, ex = C.get_engine(spark, sf_dir)
    q = SpanNear("text", ("hash", SpanGap("text", 1), "table"),
                 slop=0, in_order=True)
    return C.topk_rounded(ex, q, k=10)


# ---------------------------------------------------------------------------
# hybrid retrieval (BM25 + kNN, reciprocal rank fusion)
# ---------------------------------------------------------------------------

_RRF_K, _RRF_POOL = 60, 30


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid BM25+cosine retrieval fused by reciprocal rank (the
    neural-search hybrid query's rank-based processor; RRF k=60)."""
    from sparksearch.hybrid import hybrid_search
    ix, ex = C.get_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fused = hybrid_search(ex, Match("text", "join"), emb, query_vec_id=0,
                          k=10, pool=_RRF_POOL, rrf_k=_RRF_K)
    return (ix.docs.select("docid", "url")
            .join(F.broadcast(fused), "docid")
            .select("docid", "url", "score")
            .orderBy(F.col("score").desc(), F.col("docid").asc()))


# ---------------------------------------------------------------------------
# oracle SQL twins
# ---------------------------------------------------------------------------

def oracle_sql() -> dict:
    P, TOK, DL = C._PAGES, C._TOK, C._DL
    out = {}

    out["script_query"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN}
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid) JOIN dl USING (docid)
WHERE p.lang = 'en' AND dl.dl > 30
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()

    out["script_fields"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN},
topk AS (
  SELECT p.docid, p.url, round(sc.score, 4) AS score
  FROM sc JOIN pages p USING (docid)
  ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10 )
SELECT t.docid, t.url, t.score,
       CASE WHEN dl.dl > 40 THEN 'long' ELSE 'short' END AS band,
       round(ln(dl.dl) * 0.5, 4) AS dl_log,
       CAST(length(t.url) AS INT) AS url_len
FROM topk t JOIN dl USING (docid)
ORDER BY t.score DESC, t.docid ASC
""".strip()

    expr = "sc.score / (1 + exp(-dl.dl / 40.0)) + sqrt(dl.dl) * 0.1"
    out["script_score"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN}
SELECT p.docid, p.url, round({expr}, 4) AS score
FROM sc JOIN pages p USING (docid) JOIN dl USING (docid)
ORDER BY round({expr}, 4) DESC, p.docid ASC LIMIT 10
""".strip()

    from sparksearch import contract_queries2 as CQ2
    out["span_gap"] = "WITH " + ",\n".join(CQ2._span_base()) + f""",
p0 AS ( SELECT docid, pos FROM tokpos WHERE term = 'hash' ),
p1 AS ( SELECT docid, pos FROM tokpos WHERE term = 'table' ),
mm AS ( SELECT p0.docid, p0.pos FROM p0
        JOIN p1 ON p1.docid = p0.docid AND p1.pos = p0.pos + 2 ),
ph AS ( SELECT docid, CAST(count(DISTINCT pos) AS DOUBLE) AS pf
        FROM mm GROUP BY docid ),
{CQ2._span_score_tail(['hash', 'table'])}
"""

    # hybrid RRF: both candidate pools mirror the engine exactly — BM25
    # pool by EXACT score order (the engine's top-k), ranks by rounded
    # score; kNN pool by (cosine, vec_id), ranks after the docid mapping
    from sparksearch.contract_dataops import _COS_SQL
    out["hybrid_rrf"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN},
bm_pool AS ( SELECT docid, round(sc.score, 4) AS score FROM sc
             ORDER BY sc.score DESC, docid ASC LIMIT {_RRF_POOL} ),
bm AS ( SELECT docid,
        row_number() OVER (ORDER BY score DESC, docid ASC) AS r
        FROM bm_pool ),
e AS ( SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings ),
q AS ( SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0 ),
knn_pool AS ( SELECT e.vec_id, {_COS_SQL} AS cosine
              FROM e, q WHERE e.vec_id <> 0
              ORDER BY cosine DESC, e.vec_id ASC LIMIT {_RRF_POOL} ),
knn AS ( SELECT p.docid,
         row_number() OVER (ORDER BY kp.cosine DESC, p.docid ASC) AS r
         FROM knn_pool kp
         JOIN pages p ON CAST(right(p.url, 8) AS BIGINT) = kp.vec_id ),
fused AS (
  SELECT docid, round(sum(1.0 / ({_RRF_K} + r)), 6) AS score
  FROM ( SELECT docid, r FROM bm UNION ALL SELECT docid, r FROM knn )
  GROUP BY docid )
SELECT p.docid, p.url, f.score
FROM fused f JOIN pages p USING (docid)
ORDER BY f.score DESC, p.docid ASC LIMIT 10
""".strip()

    # delete_by_query: stats over the FULL corpus (deleted docs still count
    # in df/N/avgdl pre-merge), results filtered to live docs only
    out["delete_by_query"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN}
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
WHERE p.lang <> 'de'
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()

    # min_score: the cutoff is applied to the EXACT score (pre-rounding),
    # mirroring SearchContext.minimumScore semantics
    out["min_score"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN}
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
WHERE sc.score >= 0.33
ORDER BY round(sc.score, 4) DESC, p.docid ASC
""".strip()

    out["source_filtering"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN},
topk AS ( SELECT p.docid, p.url, round(sc.score, 4) AS score
          FROM sc JOIN pages p USING (docid)
          ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10 )
SELECT t.docid, t.url, t.score, p.lang, CAST(dl.dl AS BIGINT) AS dl
FROM topk t JOIN pages p USING (docid) JOIN dl USING (docid)
ORDER BY t.score DESC, t.docid ASC
""".strip()

    # rank_feature saturation in a bool should: every doc carries the dl
    # feature, so the should-leg adds 0.5 * dl/(dl+50) to each must hit
    out["rank_feature"] = f"""
WITH {P}, {TOK}, {DL},
{_SC_JOIN},
rf AS ( SELECT sc.docid,
               sc.score + 0.5 * (dl.dl / (dl.dl + 50.0)) AS score
        FROM sc JOIN dl USING (docid) )
SELECT p.docid, p.url, round(rf.score, 4) AS score
FROM rf JOIN pages p USING (docid)
ORDER BY round(rf.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()

    # expunge: stats AND results recomputed over the surviving corpus
    # (docids preserved by the merge — the pages CTE still numbers the
    # full corpus)
    qdl = __import__("sparksearch.norms",
                     fromlist=["quantized_dl_sql"]).quantized_dl_sql
    out["expunge_deletes"] = f"""
WITH {P},
live AS ( SELECT * FROM pages WHERE lang <> 'de' ),
tok AS (
  SELECT docid, term FROM (
    SELECT docid, unnest(string_split(text, ' ')) AS term FROM live)
  WHERE term <> '' ),
dl AS ( SELECT docid, count(*) AS dl FROM tok GROUP BY docid ),
dlq AS ( SELECT docid, dl, {qdl('dl')} AS dl_q FROM dl ),
g AS ( SELECT count(*) AS n, sum(dl) AS ttf,
              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl ),
{_SC_JOIN}
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN live p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()

    return out


def queries() -> dict:
    return {
        "script_query": q_script_query,
        "script_fields": q_script_fields,
        "script_score": q_script_score,
        "delete_by_query": q_delete_by_query,
        "expunge_deletes": q_expunge_deletes,
        "hybrid_rrf": q_hybrid_rrf,
        "span_gap": q_span_gap,
        "min_score": q_min_score,
        "source_filtering": q_source_filtering,
        "rank_feature": q_rank_feature,
    }
