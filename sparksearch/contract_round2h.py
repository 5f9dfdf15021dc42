"""Driver-contract entries, round-2h surface: crawl-pipeline URL hygiene
(canonicalization + URL-level dedup) and a search_as_you_type analogue
built from the custom-analyzer machinery (shingle subfield).

Reference cites: SearchAsYouTypeFieldMapper.java (the ._2gram/._3gram
shingle subfields + bool_prefix matching over them); URL normalization is
RFC 3986 §6 syntax-based normalization plus the de-facto crawl rules
(tracking-param strip) every Common-Crawl-scale pipeline applies before
URL dedup.

The URL entries synthesize adversarial variants deterministically from the
corpus (uppercase host + :443 + trailing slash; utm/fragment suffixes; a
real query param that must survive), so the gate exercises every
normalization step and both merge/no-merge outcomes.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparksearch import contract as C

# DuckDB-dialect canonicalization chain (RE2 + \1 replacements + 'g' flag)
# mirroring dataops.canonical_url step for step
_SCHEME_HOST = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
_TRACK = "utm_[^&#]*|fbclid=[^&#]*|gclid=[^&#]*"


def _canon_ctes(src: str) -> str:
    return f"""
c1 AS ( SELECT docid, warc_ts, regexp_replace(url, '#.*$', '') AS u
        FROM {src} ),
c2 AS ( SELECT docid, warc_ts,
               lower(regexp_extract(u, '{_SCHEME_HOST}')) ||
               regexp_replace(u, '{_SCHEME_HOST}', '') AS u FROM c1 ),
c3 AS ( SELECT docid, warc_ts,
               regexp_replace(regexp_replace(u,
                 '^(https://[^/:?#]*):443(/|\\?|$)', '\\1\\2'),
                 '^(http://[^/:?#]*):80(/|\\?|$)', '\\1\\2') AS u FROM c2 ),
c4 AS ( SELECT docid, warc_ts,
               regexp_replace(u, '&({_TRACK})', '', 'g') AS u FROM c3 ),
c5 AS ( SELECT docid, warc_ts,
               regexp_replace(regexp_replace(u, '\\?({_TRACK})&', '?'),
                              '\\?({_TRACK})$', '') AS u FROM c4 ),
canon AS ( SELECT docid, warc_ts, regexp_replace(u, '/$', '')
           AS canonical_url FROM c5 )""".strip()


_VARIANTS = """
v AS (
  SELECT docid, url, warc_ts FROM pages
  UNION ALL
  SELECT docid, upper(regexp_extract(url, '^https://[^/]*')) || ':443' ||
         regexp_replace(url, '^https://[^/]*', '') || '/', warc_ts
  FROM pages
  UNION ALL
  SELECT docid, url || '?utm_source=feed&utm_medium=rss#top', warc_ts
  FROM pages
  UNION ALL
  SELECT docid, url || '?page=2', warc_ts FROM pages WHERE docid % 3 = 0 )
""".strip()


def _variants_df(spark, sf_dir):
    from pyspark.sql import Window
    p = (C.pages_df(spark, sf_dir)
         .withColumn("docid",
                     F.row_number().over(Window.orderBy("url"))
                     .cast("long") - 1)
         .select("docid", "url", "warc_ts"))
    head = F.upper(F.regexp_extract("url", r"^https://[^/]*", 0))
    tail = F.regexp_replace("url", r"^https://[^/]*", "")
    dirty = p.select(
        "docid",
        F.concat(head, F.lit(":443"), tail, F.lit("/")).alias("url"),
        "warc_ts")
    tracked = p.select(
        "docid",
        F.concat("url", F.lit("?utm_source=feed&utm_medium=rss#top"))
         .alias("url"),
        "warc_ts")
    extra = (p.filter(F.col("docid") % 3 == 0)
             .select("docid",
                     F.concat("url", F.lit("?page=2")).alias("url"),
                     "warc_ts"))
    return p.unionAll(dirty).unionAll(tracked).unionAll(extra)


def q_url_dedup_sample(spark, sf_dir):
    """Canonicalize adversarial URL variants and dedup: first 40 canonical
    groups with keeper + variant count."""
    from sparksearch.dataops import url_dedup
    out = url_dedup(_variants_df(spark, sf_dir))
    return (out.orderBy("canonical_url").limit(40)
            .select("canonical_url", "keeper_docid",
                    F.col("n_variants").cast("long").alias("n_variants")))


def q_url_dedup_counts(spark, sf_dir):
    """Whole-corpus URL-dedup outcome histogram: how many canonical groups
    have 1 / 3 variants (merge vs param-preserving no-merge)."""
    from sparksearch.dataops import url_dedup
    out = url_dedup(_variants_df(spark, sf_dir))
    return (out.groupBy(F.col("n_variants").cast("long")
                        .alias("n_variants"))
            .agg(F.count("*").cast("long").alias("n_groups"))
            .orderBy("n_variants"))


_ENGINES_SAYT: dict[str, tuple] = {}


def _get_sayt_engine(spark, sf_dir):
    """Engine indexed with unigrams + 2-shingles in one field — the
    search_as_you_type ._2gram subfield analogue."""
    from sparksearch.analysis_custom import register_analyzer
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    register_analyzer("sayt", {
        "tokenizer": "standard",
        "filter": ["lowercase",
                   {"type": "shingle", "min_shingle_size": 2,
                    "max_shingle_size": 2, "output_unigrams": True}]})
    key = os.path.realpath(sf_dir)
    if key not in _ENGINES_SAYT:
        ix = IndexReader(spark, C.cached_index(spark, sf_dir, "sayt",
                                               analyzer="sayt"))
        _ENGINES_SAYT[key] = (ix, Executor(ix))
    return _ENGINES_SAYT[key]


def q_search_as_you_type(spark, sf_dir):
    """Prefix 'hash jo' over the shingled dictionary: matches every doc
    containing 'hash' immediately followed by a 'jo…' token — the 2-gram
    bool_prefix leg of search_as_you_type."""
    from sparksearch.queries import TextPrefix
    _, ex = _get_sayt_engine(spark, sf_dir)
    hits = ex._plan(TextPrefix("text", "hash jo"), scored=False)
    return (hits.select("docid").orderBy("docid").limit(20))


_ENGINES_TP: dict[str, tuple] = {}


def _get_tp_engine(spark, sf_dir):
    """Minute-partitioned engine (data-stream / ILM rollover layout):
    docs + postings carry a pday directory column derived from warc_ts."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    key = os.path.realpath(sf_dir)
    if key not in _ENGINES_TP:
        ix = IndexReader(spark, C.cached_index(spark, sf_dir, "tp",
                                               time_partition="minute"))
        _ENGINES_TP[key] = (ix, Executor(ix))
    return _ENGINES_TP[key]


_TP_GTE, _TP_LT = "2025-01-01 00:02:00", "2025-01-01 00:04:00"


def q_time_partition_search(spark, sf_dir):
    """Time-bounded BM25 over the minute-partitioned index: the pday
    window prunes whole directories on the postings AND docs scans
    (asserted by tests/test_time_partition.py); results must equal plain
    filter semantics — scoring uses global stats, filter context never
    affects scores."""
    from sparksearch.queries import Bool, Match, Range
    _, ex = _get_tp_engine(spark, sf_dir)
    q = Bool(must=[Match("text", "join")],
             filter=[Range("warc_ts", gte=_TP_GTE, lt=_TP_LT)])
    return C.topk_rounded(ex, q, k=10)


def sqls() -> dict[str, str]:
    P = C._PAGES

    return {
        "url_dedup_sample": f"""
WITH {P}, {_VARIANTS}, {_canon_ctes('v')},
r AS ( SELECT canonical_url, docid,
              row_number() OVER (PARTITION BY canonical_url
                                 ORDER BY warc_ts ASC, docid ASC) AS rn,
              count(*) OVER (PARTITION BY canonical_url) AS n_variants
       FROM canon )
SELECT canonical_url, docid AS keeper_docid,
       CAST(n_variants AS BIGINT) AS n_variants
FROM r WHERE rn = 1
ORDER BY canonical_url LIMIT 40
""".strip(),
        "url_dedup_counts": f"""
WITH {P}, {_VARIANTS}, {_canon_ctes('v')},
grp AS ( SELECT canonical_url, count(*) AS n_variants FROM canon
         GROUP BY canonical_url )
SELECT CAST(n_variants AS BIGINT) AS n_variants,
       CAST(count(*) AS BIGINT) AS n_groups
FROM grp GROUP BY n_variants ORDER BY n_variants
""".strip(),
        "time_partition_search": f"""
WITH {P}, {C._TOK}, {C._DL},
tf AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'join'
        GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tf ),
sc AS ( SELECT tf.docid,
               {C._idf_sql('dft.df', 'g.n')} *
               {C._tfn_sql('tf.tf', 'dlq.dl_q', 'g.avgdl')} AS score
        FROM tf CROSS JOIN dft JOIN dlq USING (docid) CROSS JOIN g )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
WHERE p.warc_ts >= TIMESTAMP '{_TP_GTE}'
  AND p.warc_ts <  TIMESTAMP '{_TP_LT}'
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT 10
""".strip(),
        "search_as_you_type": f"""
WITH {P},
tokpos AS (
  SELECT docid,
         unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM pages )
SELECT DISTINCT t1.docid
FROM tokpos t1 JOIN tokpos t2
  ON t1.docid = t2.docid AND t2.pos = t1.pos + 1
WHERE t1.term = 'hash' AND t2.term LIKE 'jo%'
ORDER BY t1.docid LIMIT 20
""".strip(),
    }


def oracle_sql() -> dict:
    return sqls()


def queries() -> dict:
    return {
        "url_dedup_sample": q_url_dedup_sample,
        "url_dedup_counts": q_url_dedup_counts,
        "search_as_you_type": q_search_as_you_type,
        "time_partition_search": q_time_partition_search,
    }
