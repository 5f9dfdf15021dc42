"""Driver-contract entries, round-2d surface: named queries
(`matched_queries`), point-in-time readers, runtime fields, and the
Gopher repetition filter.

Reference cites: sv/search/fetch/subphase/MatchedQueriesPhase.java (named
clauses), AbstractQueryBuilder queryName plumbing, the PIT search API
(sv/action/search CreatePitController), runtime mappings
(`runtime_mappings` in the search body), and Rae et al. 2021 (Gopher)
§A1.1 repetition rules for the LLM-pipeline side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparksearch import contract as C
from sparksearch.queries import Bool, Match, Named, Range, Term

_idf, _tfn = C._idf_sql, C._tfn_sql


def _sc(term: str, tag: str) -> str:
    """BM25 scoring CTE chain for one query term, suffix-tagged so several
    terms can coexist in one WITH block (requires tok/dlq/g in scope)."""
    return f"""
tf{tag} AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = '{term}'
        GROUP BY docid ),
dft{tag} AS ( SELECT count(*) AS df FROM tf{tag} ),
sc{tag} AS ( SELECT tf{tag}.docid,
               {_idf(f'dft{tag}.df', 'g.n')} *
               {_tfn(f'tf{tag}.tf', 'dlq.dl_q', 'g.avgdl')} AS score
        FROM tf{tag} CROSS JOIN dft{tag} JOIN dlq USING (docid)
        CROSS JOIN g )""".strip()


# ---------------------------------------------------------------------------
# named queries → matched_queries
# ---------------------------------------------------------------------------

def q_matched_queries(spark, sf_dir):
    """`_name`d clauses reported per hit (MatchedQueriesPhase): a bool with
    one scoring must, one named scoring should (postings membership) and
    two named filter-context shoulds (docvalues membership)."""
    from sparksearch.fetchops import matched_queries
    _, ex = C.get_engine(spark, sf_dir)
    q = Bool(must=[Match("text", "join")],
             should=[Named(Term("lang", "en"), "en_docs"),
                     Named(Range("dl", gte=40), "long_doc"),
                     Named(Match("text", "hash"), "has_hash")])
    hits = C.topk_rounded(ex, q, k=10)
    # stringified for the driver gate's scalar-only canonicalizer
    return matched_queries(ex, hits, q).withColumn(
        "matched_queries", F.concat_ws(",", "matched_queries"))


# ---------------------------------------------------------------------------
# point-in-time search
# ---------------------------------------------------------------------------

def _pit_snapshot(spark, sf_dir) -> dict:
    """Two-generation index: gen0 = en pages only, PIT opened at the gen0
    commit, then the remaining pages added as gen1. The pinned snapshot is
    persisted beside the index so reruns reuse it (disk-cached like
    contract.get_engine)."""
    import json
    import os
    import shutil

    from sparksearch.build import build_index
    from sparksearch.corpus import pages_from_documents
    from sparksearch.index import IndexReader
    from sparksearch.merge import add_generation

    ix, _ = C.get_engine(spark, sf_dir)
    out = ix.index_dir + "_pit"
    pit_path = os.path.join(out, "pit.json")
    if os.path.exists(pit_path) and C.current_meta(out) is not None:
        with open(pit_path) as f:
            pit = json.load(f)
    else:
        shutil.rmtree(out, ignore_errors=True)
        pages = pages_from_documents(spark, sf_dir)
        build_index(pages.filter(F.col("lang") == "en"), out,
                    analyzer="standard", n_buckets=8, partitions=8,
                    resume=False)
        pit = IndexReader(spark, out).open_pit()
        add_generation(spark, out, pages.filter(F.col("lang") != "en"),
                       partitions=8)
        with open(pit_path, "w") as f:
            json.dump(pit, f)
    return pit


def q_pit_search(spark, sf_dir):
    """Search through a point-in-time reader AFTER a later generation
    committed: results and BM25 stats (N, avgdl, df) are those of the
    pinned en-only commit — the live reader sees the full corpus (asserted
    here; oracle recomputes over the en subset with en-only stats)."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader, pit_reader

    pit = _pit_snapshot(spark, sf_dir)
    rd = pit_reader(spark, pit)
    live = IndexReader(spark, pit["index_dir"])
    assert live.n_docs > rd.n_docs, "gen1 commit must be visible live"
    return C.topk_rounded(Executor(rd), Match("text", "join"), k=10)


# ---------------------------------------------------------------------------
# runtime fields
# ---------------------------------------------------------------------------

def q_runtime_fields(spark, sf_dir):
    """`runtime_mappings`: a script-derived field filtered with a range
    query and fetched per hit — planned as one Catalyst expression inside
    the SAME pruned docs scan as stored doc-values fields."""
    from sparksearch.exec import Executor

    ix, _ = C.get_engine(spark, sf_dir)
    rix = ix.with_runtime({"dl_log": "Math.log(doc['dl'].value) * 2.0"})
    rex = Executor(rix)
    q = Bool(must=[Match("text", "join")], filter=[Range("dl_log", gte=7.0)])
    hits = C.topk_rounded(rex, q, k=10)
    return (rix.docs.select("docid", F.round("dl_log", 4).alias("dl_log"))
            .join(F.broadcast(hits), "docid")
            .select("docid", "url", "score", "dl_log")
            .orderBy(F.col("score").desc(), F.col("docid").asc()))


# ---------------------------------------------------------------------------
# Gopher repetition filter (LLM pipeline)
# ---------------------------------------------------------------------------

def q_gopher_repetition(spark, sf_dir):
    """Repetition signals per document (top-2-gram char fraction, duplicate
    3-gram char fraction, flag) over the documents table."""
    from sparksearch.dataops import gopher_repetition
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_repetition(docs)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict:
    P, TOK, DL = C._PAGES, C._TOK, C._DL
    out = {}

    out["matched_queries"] = f"""
WITH {P}, {TOK}, {DL},
{_sc('join', 'j')},
{_sc('hash', 'h')},
topk AS (
  SELECT scj.docid,
         round(scj.score + coalesce(sch.score, 0), 4) AS score
  FROM scj LEFT JOIN sch ON sch.docid = scj.docid
  ORDER BY round(scj.score + coalesce(sch.score, 0), 4) DESC,
           scj.docid ASC LIMIT 10 )
SELECT t.docid, p.url, t.score,
       array_to_string(list_sort(list_filter([
           CASE WHEN p.lang = 'en' THEN 'en_docs' END,
           CASE WHEN d.dl >= 40 THEN 'long_doc' END,
           CASE WHEN sch.docid IS NOT NULL THEN 'has_hash' END
       ], x -> x IS NOT NULL)), ',') AS matched_queries
FROM topk t JOIN pages p USING (docid) JOIN dl d USING (docid)
LEFT JOIN sch ON sch.docid = t.docid
ORDER BY t.score DESC, t.docid ASC
""".strip()

    # PIT: the en-only commit — docids are rank-by-url within the subset
    # (build.analyze_pages), so the oracle renumbers the en pages the same
    # way; stats (n/avgdl/df) come from the subset only
    out["pit_search"] = f"""
WITH {P},
en AS ( SELECT row_number() OVER (ORDER BY url) - 1 AS docid, url, text
        FROM pages WHERE lang = 'en' ),
tok AS (
  SELECT docid, term FROM (
    SELECT docid, unnest(string_split(text, ' ')) AS term FROM en)
  WHERE term <> '' ),
{DL},
{_sc('join', 'j')}
SELECT e.docid, e.url, round(scj.score, 4) AS score
FROM scj JOIN en e USING (docid)
ORDER BY round(scj.score, 4) DESC, e.docid ASC LIMIT 10
""".strip()

    out["runtime_fields"] = f"""
WITH {P}, {TOK}, {DL},
{_sc('join', 'j')}
SELECT p.docid, p.url, round(scj.score, 4) AS score,
       round(ln(d.dl) * 2.0, 4) AS dl_log
FROM scj JOIN pages p USING (docid) JOIN dl d USING (docid)
WHERE ln(d.dl) * 2.0 >= 7.0
ORDER BY round(scj.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()

    out["gopher_repetition"] = """
WITH t AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents ),
tt AS ( SELECT * FROM t WHERE w <> '' ),
g AS ( SELECT doc_id, w,
              lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
              lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
       FROM tt ),
chars AS ( SELECT doc_id, CAST(sum(length(w)) AS DOUBLE) AS chars
           FROM tt GROUP BY doc_id ),
g2 AS ( SELECT doc_id, w, w2, count(*) AS c,
               min(length(w) + length(w2)) AS len
        FROM g WHERE w2 IS NOT NULL GROUP BY doc_id, w, w2 ),
top2 AS ( SELECT doc_id, CAST(c * len AS DOUBLE) AS top2_chars
          FROM ( SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, w ASC, w2 ASC) AS rn FROM g2 )
          WHERE rn = 1 ),
g3 AS ( SELECT doc_id, w, w2, w3, count(*) AS c,
               min(length(w) + length(w2) + length(w3)) AS len
        FROM g WHERE w3 IS NOT NULL GROUP BY doc_id, w, w2, w3 ),
dup3 AS ( SELECT doc_id, CAST(sum(c * len) AS DOUBLE) AS dup3_chars
          FROM g3 WHERE c >= 2 GROUP BY doc_id ),
fr AS ( SELECT c.doc_id,
               round(least(coalesce(t2.top2_chars, 0) / c.chars, 1.0), 6)
                 AS top2_frac,
               round(least(coalesce(d3.dup3_chars, 0) / c.chars, 1.0), 6)
                 AS dup3_frac
        FROM chars c
        LEFT JOIN top2 t2 USING (doc_id)
        LEFT JOIN dup3 d3 USING (doc_id) )
SELECT doc_id, top2_frac, dup3_frac,
       (top2_frac > 0.20 OR dup3_frac > 0.60) AS flagged
FROM fr ORDER BY doc_id
""".strip()

    return out


def queries() -> dict:
    return {
        "matched_queries": q_matched_queries,
        "pit_search": q_pit_search,
        "runtime_fields": q_runtime_fields,
        "gopher_repetition": q_gopher_repetition,
    }
