"""Driver-contract queries + DuckDB oracle SQL (consumed by __spark_entry__).

Each entry pairs a Spark implementation (the real engine: index build +
executor, or DataFrame pipelines for the training-data ops) with an ANSI-SQL
oracle that DuckDB evaluates over the same parquet tables. Column names and
value rounding are aligned on both sides; scores are rounded to 4 decimals
and ordering ties broken by docid so top-k boundaries are stable across
engines.

The pages corpus is derived from `documents` by the same deterministic rule
in both engines (corpus.pages_from_documents ↔ the _PAGES CTE here), so the
whole fulltext pipeline — tokenize → stats → BM25 → top-k — is checked
end-to-end against an independent SQL evaluation.
"""

from __future__ import annotations

import os
import tempfile
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparksearch import bm25
from sparksearch.analysis import ENGLISH_STOP_WORDS, analyze
from sparksearch.norms import quantized_dl_sql

K1, B = bm25.K1, bm25.B

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect-compatible subset of ANSI SQL)
# ---------------------------------------------------------------------------

#: pages derived from documents — must mirror corpus.pages_from_documents
_PAGES = """
pages AS (
  SELECT row_number() OVER (ORDER BY url) - 1 AS docid, url, warc_ts, text, lang
  FROM (
    SELECT 'https://site' || (doc_id % 97) || '.example/p/' ||
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
           TIMESTAMP '2025-01-01 00:00:00' + INTERVAL (doc_id) SECOND AS warc_ts,
           text, lang
    FROM documents) )
""".strip()

_TOK = """
tok AS (
  SELECT docid, term FROM (
    SELECT docid, unnest(string_split(text, ' ')) AS term FROM pages)
  WHERE term <> '' )
""".strip()

_TOKPOS = """
tokpos AS (
  SELECT docid,
         unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM pages )
""".strip()

_DL = f"""
dl AS ( SELECT docid, count(*) AS dl FROM tok GROUP BY docid ),
dlq AS ( SELECT docid, dl, {quantized_dl_sql('dl')} AS dl_q FROM dl ),
g AS ( SELECT count(*) AS n, sum(dl) AS ttf,
              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl )
""".strip()


def _idf_sql(df: str, n: str) -> str:
    return f"ln(1 + ({n} - {df} + 0.5) / ({df} + 0.5))"


def _tfn_sql(tf: str, dl_q: str, avgdl: str) -> str:
    return (f"({K1 + 1.0} * {tf} / "
            f"({tf} + {K1} * (1 - {B} + {B} * {dl_q} / {avgdl})))")


def _terms_list(text: str) -> list[str]:
    return [t for t, _ in analyze(text, "standard")]


def _in_list(terms: list[str]) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))


def match_sql(text: str, msm: int | None = None, operator: str = "or",
              k: int = 10) -> str:
    """BM25 match query as a DuckDB CTE pipeline (weights for duplicate
    query terms included, mirroring bool-of-term-queries semantics)."""
    terms = _terms_list(text)
    cnt = Counter(terms)
    weights = " ".join(f"WHEN '{t}' THEN {c}" for t, c in sorted(cnt.items()))
    need = len(terms) if operator == "and" else (msm or 0)
    return f"""
WITH {_PAGES},
{_TOK},
{_DL},
tf AS ( SELECT docid, term, count(*) AS tf FROM tok
        WHERE term IN ({_in_list(terms)}) GROUP BY docid, term ),
dft AS ( SELECT term, count(*) AS df FROM tf GROUP BY term ),
sc AS (
  SELECT tf.docid,
         sum((CASE tf.term {weights} ELSE 0 END) *
             {_idf_sql('dft.df', 'g.n')} *
             {_tfn_sql('tf.tf', 'dlq.dl_q', 'g.avgdl')}) AS score,
         CAST(sum(CASE tf.term {weights} ELSE 0 END) AS BIGINT) AS nmatched
  FROM tf JOIN dft USING (term) JOIN dlq USING (docid) CROSS JOIN g
  GROUP BY tf.docid )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
WHERE sc.nmatched >= {need}
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT {k}
""".strip()


def phrase_sql(text: str, k: int = 10) -> str:
    """Exact match_phrase (slop 0) with positional self-joins; scored as a
    pseudo-term (idf = sum of member idfs, tf = phrase frequency)."""
    terms = _terms_list(text)
    assert len(terms) >= 2
    legs = ",\n".join(
        f"p{i} AS ( SELECT docid, pos FROM tokpos WHERE term = '{t}' )"
        for i, t in enumerate(terms))
    join = " JOIN ".join(
        [f"p0"] + [f"p{i} ON p{i}.docid = p0.docid AND p{i}.pos = p0.pos + {i}"
                   for i in range(1, len(terms))])
    idf_terms = " + ".join(
        f"(SELECT {_idf_sql('count(*)', '(SELECT n FROM g)')} "
        f"FROM (SELECT DISTINCT docid FROM tokpos WHERE term = '{t}'))"
        for t in terms)
    return f"""
WITH {_PAGES},
{_TOKPOS},
tok AS ( SELECT docid, term FROM tokpos ),
{_DL},
{legs},
ph AS ( SELECT p0.docid, count(*) AS pf FROM {join} GROUP BY p0.docid ),
sc AS (
  SELECT ph.docid,
         ({idf_terms}) * {_tfn_sql('ph.pf', 'dlq.dl_q', 'g.avgdl')} AS score
  FROM ph JOIN dlq USING (docid) CROSS JOIN g )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT {k}
""".strip()


def sloppy_phrase_sql(text: str, slop: int, k: int = 10) -> str:
    """match_phrase with slop > 0 — displacement-sum semantics mirroring
    exec._phrase_freq_sloppy: anchor each position of the first term; per
    later term take the min |p_i − (p0+i)|; anchors with Σd ≤ slop weigh
    1/(1+Σd) into the sloppy phrase frequency."""
    terms = _terms_list(text)
    assert len(terms) >= 2
    dlegs = ",\n".join(
        f"d{i} AS ( SELECT a.docid, a.pos, "
        f"min(abs(t{i}.pos - (a.pos + {i}))) AS d\n"
        f"  FROM a JOIN tokpos t{i} ON t{i}.docid = a.docid "
        f"AND t{i}.term = '{t}'\n"
        f"  GROUP BY a.docid, a.pos )"
        for i, t in enumerate(terms[1:], start=1))
    joins = " ".join(f"JOIN d{i} USING (docid, pos)"
                     for i in range(1, len(terms)))
    dsum = " + ".join(f"d{i}.d" for i in range(1, len(terms)))
    idf_terms = " + ".join(
        f"(SELECT {_idf_sql('count(*)', '(SELECT n FROM g)')} "
        f"FROM (SELECT DISTINCT docid FROM tokpos WHERE term = '{t}'))"
        for t in terms)
    return f"""
WITH {_PAGES},
{_TOKPOS},
tok AS ( SELECT docid, term FROM tokpos ),
{_DL},
a AS ( SELECT docid, pos FROM tokpos WHERE term = '{terms[0]}' ),
{dlegs},
m AS ( SELECT a.docid, CAST({dsum} AS DOUBLE) AS d
       FROM a {joins} WHERE {dsum} <= {slop} ),
ph AS ( SELECT docid, sum(1.0 / (1.0 + d)) AS pf FROM m GROUP BY docid ),
sc AS (
  SELECT ph.docid,
         ({idf_terms}) * {_tfn_sql('ph.pf', 'dlq.dl_q', 'g.avgdl')} AS score
  FROM ph JOIN dlq USING (docid) CROSS JOIN g )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Spark side: cached engine instance per sf_dir
# ---------------------------------------------------------------------------

def current_meta(index_dir: str) -> dict | None:
    """The committed meta of `index_dir`, or None when it has no commit
    or build.read_meta refuses its format."""
    from sparksearch.build import read_meta
    try:
        return read_meta(index_dir)
    except (OSError, ValueError):
        return None


def cached_index(spark: SparkSession, sf_dir: str, tag: str,
                 **build_kwargs) -> str:
    """Directory of an index over sf_dir's pages, kept across runs under
    the temp dir as sparksearch_ix{tag}_<sf_dir path>: built with
    n_buckets=8, partitions=8 and `build_kwargs`, and rebuilt when it has
    no commit or build.read_meta refuses it."""
    import shutil

    from sparksearch.build import build_index
    from sparksearch.corpus import pages_from_documents

    out = os.path.join(
        tempfile.gettempdir(), f"sparksearch_ix{tag}_"
        + os.path.realpath(sf_dir).strip("/").replace("/", "_"))
    if current_meta(out) is None:
        shutil.rmtree(out, ignore_errors=True)
        build_index(pages_from_documents(spark, sf_dir), out, n_buckets=8,
                    partitions=8, **build_kwargs)
    return out


_ENGINES: dict[str, "tuple"] = {}


def get_engine(spark: SparkSession, sf_dir: str):
    """(IndexReader, Executor) for sf_dir, building the index once."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    key = os.path.realpath(sf_dir)
    if key not in _ENGINES:
        ix = IndexReader(spark, cached_index(spark, sf_dir, ""))
        _ENGINES[key] = (ix, Executor(ix))
    return _ENGINES[key]


_ENGINES_WAND: dict[str, "tuple"] = {}


def get_engine_wand(spark: SparkSession, sf_dir: str):
    """Executor over the SAME index dir with packed segments + WAND enabled.

    Builds the segment blocks when they do not cover the index's
    generation (a fresh or rebuilt cached dir, or a segment build that
    did not finish); queries through this executor take the block-max
    pruned path (wand.py)."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    key = os.path.realpath(sf_dir)
    if key not in _ENGINES_WAND:
        ix, _ = get_engine(spark, sf_dir)
        wix = IndexReader(spark, ix.index_dir, use_segments=True)
        if not wix.segments_cover_all():
            from sparksearch.segments import build_segments
            build_segments(spark, ix.index_dir, salt_target=4096, n_chunks=2,
                           partitions=8)
            wix = wix.reload()
        _ENGINES_WAND[key] = (wix, Executor(wix))
    return _ENGINES_WAND[key]


def wand_topk_rounded(ex, q, k: int = 10, pool: int = 50) -> DataFrame:
    """WAND-path top-k with oracle-stable rounding: take an exact top-`pool`
    via block-max WAND, then re-sort by (4-dp rounded score, docid) and cut
    to k — so the boundary tie-break matches the SQL oracle's rounded sort
    (the pool is provably the exact top-`pool`, and >40 distinct docs inside
    one 1e-4 rounding bucket at the boundary would be needed to diverge)."""
    wide = ex.search(q, k=pool, fetch=False, mode="wand") \
        .select("docid", F.round("score", 4).alias("score"))
    topk = wide.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
    return (ex.ix.docs.select("docid", "url")
            .join(F.broadcast(topk), "docid")
            .select("docid", "url", "score")
            .orderBy(F.col("score").desc(), F.col("docid").asc()))


def topk_rounded(ex, q, k: int = 10) -> DataFrame:
    """Engine search with 4-decimal rounded scores and (score, docid) order —
    the cross-engine-stable form used by every contract query."""
    scored = ex._plan(q, scored=True) \
        .select("docid", F.round("score", 4).alias("score"))
    topk = scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
    return (ex.ix.docs.select("docid", "url")
            .join(F.broadcast(topk), "docid")
            .select("docid", "url", "score")
            .orderBy(F.col("score").desc(), F.col("docid").asc()))


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparksearch.corpus import pages_from_documents
    return pages_from_documents(spark, sf_dir)
