"""Driver-contract entries, round-2f surface: custom analyzers (the
index-settings ``analysis`` block) end-to-end, and query-time synonyms with
Lucene SynonymQuery blended scoring.

Reference cites:
- sv/index/analysis/AnalysisRegistry.java + CustomAnalyzerProvider.java
  (char_filter* → tokenizer → filter* assembly from settings JSON)
- analysis-common CommonAnalysisModulePlugin.java (stop / mapping / shingle
  / synonym factories)
- sv/index/search/MatchQuery.java newSynonymQuery → Lucene SynonymQuery:
  stacked (posIncrement-0) query tokens score as ONE pseudo-term with
  tf = Σ member tfs and docFreq = max member df.

Oracle strategy: the synonym oracles recompute the blended statistics in
SQL (max-df over the member terms, summed per-doc tf), the custom-stop
oracle recomputes df/dl/avgdl over the FILTERED token stream, and the
_analyze oracle embeds hand-derived expected tokens (computed from the
reference component semantics, not from this package's code).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparksearch import contract as C

_idf, _tfn = C._idf_sql, C._tfn_sql

_SYN = ("join", "merge")        # equivalence set, both in the corpus
_STOPPED = ("join", "hash")     # index-time custom stopword list


def _register():
    from sparksearch.analysis_custom import register_analyzer
    register_analyzer("syn_mj", {
        "tokenizer": "standard",
        "filter": ["lowercase",
                   {"type": "synonym", "synonyms": [", ".join(_SYN)]}]})
    register_analyzer("webstop", {
        "tokenizer": "standard",
        "filter": ["lowercase",
                   {"type": "stop", "stopwords": list(_STOPPED)}]})


_ENGINES_CST: dict[str, tuple] = {}


def _get_custom_stop_engine(spark, sf_dir):
    """Engine over the same corpus indexed with the `webstop` custom
    analyzer (stopwords join/hash); analyzer_def persists in meta.json so
    the reader re-registers it — disk-cached like contract.get_engine."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    _register()
    key = os.path.realpath(sf_dir)
    if key not in _ENGINES_CST:
        ix = IndexReader(spark, C.cached_index(spark, sf_dir, "cst",
                                               analyzer="webstop"))
        _ENGINES_CST[key] = (ix, Executor(ix))
    return _ENGINES_CST[key]


# ---------------------------------------------------------------------------
# Spark sides
# ---------------------------------------------------------------------------

def q_match_synonym(spark, sf_dir):
    """match with a query-time synonym analyzer: 'merge' expands to the
    stacked set {join, merge} → one blended SynonymQuery clause."""
    from sparksearch.queries import Match
    _register()
    _, ex = C.get_engine(spark, sf_dir)
    return C.topk_rounded(ex, Match("text", "merge", analyzer="syn_mj"),
                          k=10)


def q_match_synonym_and(spark, sf_dir):
    """Two-position match (synonym group + plain term) with operator=and:
    every position clause must match; scores add."""
    from sparksearch.queries import Match
    _register()
    _, ex = C.get_engine(spark, sf_dir)
    return C.topk_rounded(
        ex, Match("text", "merge fast", operator="and", analyzer="syn_mj"),
        k=10)


def q_custom_stop_index(spark, sf_dir):
    """BM25 through an index built with a custom analyzer (stopwords
    join/hash): df/dl/avgdl all reflect the filtered token stream."""
    from sparksearch.queries import Match
    _, ex = _get_custom_stop_engine(spark, sf_dir)
    return C.topk_rounded(ex, Match("text", "table scan"), k=10)


def q_multi_phrase(spark, sf_dir):
    """MultiPhraseQuery: phrase 'merge fast' under the synonym analyzer —
    slot 0 accepts {merge, join}, slot 1 is 'fast'; scored as the phrase
    pseudo-term with idf summed over every member (MatchQuery.java phrase
    path over a posIncrement-0 stream)."""
    from sparksearch.queries import MatchPhrase
    _register()
    _, ex = C.get_engine(spark, sf_dir)
    return C.topk_rounded(
        ex, MatchPhrase("text", "merge fast", analyzer="syn_mj"), k=10)


_ANALYZE_TEXT = "Fish & Chips the Best Fish"


def q_analyze_custom(spark, sf_dir):
    """_analyze API through a full custom chain (mapping char filter →
    standard tokenizer → lowercase → stop → shingle-with-filler), executed
    as the engine's Arrow tokenize UDF so the executor-side shipping of the
    analyzer object is what's gated."""
    from sparksearch.analysis_custom import register_analyzer
    from sparksearch.build import tokenize_udf
    register_analyzer("cst_chain", {
        "char_filter": [{"type": "mapping", "mappings": ["& => and"]}],
        "tokenizer": "standard",
        "filter": ["lowercase",
                   {"type": "stop", "stopwords": ["the", "and"]},
                   {"type": "shingle"}]})
    df = spark.createDataFrame([(_ANALYZE_TEXT,)], "text string")
    tok = df.select(tokenize_udf("cst_chain")(F.col("text")).alias("_t"))
    out = tok.select(F.arrays_zip(F.col("_t.terms"), F.col("_t.poss"))
                     .alias("z")) \
             .select(F.explode("z").alias("e")) \
             .select(F.col("e.terms").alias("term"),
                     F.col("e.poss").cast("int").alias("pos"))
    return out.orderBy("pos", "term")


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def sqls() -> dict[str, str]:
    P, TOK, DL = C._PAGES, C._TOK, C._DL
    syn_in = ", ".join(f"'{t}'" for t in _SYN)
    stop_in = ", ".join(f"'{t}'" for t in _STOPPED)

    blended = f"""
tfq AS ( SELECT docid, count(*) AS tf FROM tok WHERE term IN ({syn_in})
         GROUP BY docid ),
bdf AS ( SELECT max(df) AS df FROM (
           SELECT term, count(DISTINCT docid) AS df FROM tok
           WHERE term IN ({syn_in}) GROUP BY term ) )""".strip()

    # hand-derived from the reference chain semantics:
    # "Fish & Chips the Best Fish" --mapping--> "Fish and Chips the Best
    # Fish" --tokenize+lowercase--> fish0 and1 chips2 the3 best4 fish5
    # --stop(the,and)--> fish0 _ chips2 _ best4 fish5 (holes at 1,3)
    # --shingle(2,2, filler _)--> unigrams + bigrams with fillers
    analyze_rows = [
        ("fish", 0), ("fish _", 0), ("_ chips", 1), ("chips", 2),
        ("chips _", 2), ("_ best", 3), ("best", 4), ("best fish", 4),
        ("fish", 5),
    ]
    values = ", ".join(f"('{t}', {p})" for t, p in analyze_rows)

    return {
        "match_synonym": f"""
WITH {P}, {TOK}, {DL}, {blended},
sc AS ( SELECT tfq.docid,
               {_idf('bdf.df', 'g.n')} *
               {_tfn('tfq.tf', 'dlq.dl_q', 'g.avgdl')} AS score
        FROM tfq CROSS JOIN bdf JOIN dlq USING (docid) CROSS JOIN g )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT 10
""".strip(),
        "match_synonym_and": f"""
WITH {P}, {TOK}, {DL}, {blended},
tff AS ( SELECT docid, count(*) AS tf FROM tok WHERE term = 'fast'
         GROUP BY docid ),
dff AS ( SELECT count(*) AS df FROM tff ),
sc AS ( SELECT tfq.docid,
               {_idf('bdf.df', 'g.n')} *
               {_tfn('tfq.tf', 'dlq.dl_q', 'g.avgdl')} +
               {_idf('dff.df', 'g.n')} *
               {_tfn('tff.tf', 'dlq.dl_q', 'g.avgdl')} AS score
        FROM tfq JOIN tff USING (docid) CROSS JOIN bdf CROSS JOIN dff
        JOIN dlq USING (docid) CROSS JOIN g )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT 10
""".strip(),
        "custom_stop_index": f"""
WITH {P}, {TOK},
tok2 AS ( SELECT docid, term FROM tok WHERE term NOT IN ({stop_in}) ),
dl2 AS ( SELECT p.docid, count(t.term) AS dl
         FROM pages p LEFT JOIN tok2 t USING (docid) GROUP BY p.docid ),
dlq2 AS ( SELECT docid, dl,
                 {__import__('sparksearch.norms', fromlist=['quantized_dl_sql']).quantized_dl_sql('dl')} AS dl_q
          FROM dl2 ),
g2 AS ( SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl2 ),
tft AS ( SELECT docid, count(*) AS tf FROM tok2 WHERE term = 'table'
         GROUP BY docid ),
dft AS ( SELECT count(*) AS df FROM tft ),
tfs AS ( SELECT docid, count(*) AS tf FROM tok2 WHERE term = 'scan'
         GROUP BY docid ),
dfs AS ( SELECT count(*) AS df FROM tfs ),
sct AS ( SELECT tft.docid,
                {_idf('dft.df', 'g2.n')} *
                {_tfn('tft.tf', 'dlq2.dl_q', 'g2.avgdl')} AS s
         FROM tft CROSS JOIN dft JOIN dlq2 USING (docid) CROSS JOIN g2 ),
scs AS ( SELECT tfs.docid,
                {_idf('dfs.df', 'g2.n')} *
                {_tfn('tfs.tf', 'dlq2.dl_q', 'g2.avgdl')} AS s
         FROM tfs CROSS JOIN dfs JOIN dlq2 USING (docid) CROSS JOIN g2 ),
sc AS ( SELECT docid, sum(s) AS score FROM (
          SELECT * FROM sct UNION ALL SELECT * FROM scs ) GROUP BY docid )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT 10
""".strip(),
        "analyze_custom": f"""
SELECT term, pos FROM (VALUES {values}) AS t(term, pos)
ORDER BY pos, term
""".strip(),
        "multi_phrase": f"""
WITH {P}, {C._TOKPOS}, {TOK}, {DL},
m0 AS ( SELECT DISTINCT docid, pos FROM tokpos
        WHERE term IN ({syn_in}) ),
m1 AS ( SELECT docid, pos - 1 AS pos FROM tokpos WHERE term = 'fast' ),
hits AS ( SELECT m0.docid, count(*) AS pf
          FROM m0 JOIN m1 USING (docid, pos) GROUP BY m0.docid ),
dfs AS ( SELECT term, count(DISTINCT docid) AS df FROM tok
         WHERE term IN ({syn_in}, 'fast') GROUP BY term ),
sumidf AS ( SELECT sum({_idf('df', '(SELECT count(*) FROM pages)')})
            AS v FROM dfs ),
sc AS ( SELECT h.docid,
               sumidf.v * {_tfn('h.pf', 'dlq.dl_q', 'g.avgdl')} AS score
        FROM hits h CROSS JOIN sumidf JOIN dlq USING (docid)
        CROSS JOIN g )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC
LIMIT 10
""".strip(),
    }


def oracle_sql() -> dict:
    return sqls()


def queries() -> dict:
    return {
        "match_synonym": q_match_synonym,
        "match_synonym_and": q_match_synonym_and,
        "custom_stop_index": q_custom_stop_index,
        "analyze_custom": q_analyze_custom,
        "multi_phrase": q_multi_phrase,
    }
