"""Driver-contract entries for the analysis chain beyond the standard
analyzer: the `english` analyzer (stopwords + Porter stemming) end-to-end
through the engine, and the _analyze-API token stream itself.

Oracle strategy: SQL cannot stem, but the corpus vocabulary is finite — so
the oracle embeds a (term → stem) dictionary computed at SQL-generation
time with the same Porter implementation, exactly as the analyzed query
terms are already embedded in every match oracle. The SQL twin then
replicates the full pipeline: tokenize → stopword-filter → stem-map → df/
avgdl over the FILTERED token stream → BM25.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparksearch import contract as C
from sparksearch.analysis import ENGLISH_STOP_WORDS, analyze
from sparksearch.norms import quantized_dl_sql
from sparksearch.porter import porter_stem
from sparksearch.queries import Match

_ENGINES_EN: dict[str, tuple] = {}


def _get_english_engine(spark, sf_dir):
    """Engine over the same corpus indexed with the english analyzer."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    key = os.path.realpath(sf_dir)
    if key not in _ENGINES_EN:
        ix = IndexReader(spark, C.cached_index(spark, sf_dir, "en",
                                               analyzer="english"))
        _ENGINES_EN[key] = (ix, Executor(ix))
    return _ENGINES_EN[key]


def _corpus_vocab(sf_dir: str) -> list[str]:
    import duckdb
    rows = duckdb.sql(
        f"SELECT DISTINCT t FROM (SELECT unnest(string_split(text, ' ')) "
        f"AS t FROM '{sf_dir}/documents.parquet') WHERE t <> ''").fetchall()
    return sorted(r[0] for r in rows)


# ---------------------------------------------------------------------------
# Spark sides
# ---------------------------------------------------------------------------

def q_english_match(spark, sf_dir):
    """BM25 match through the english-analyzed index; query text contains
    inflected forms + stopwords that the analyzer must normalize away."""
    _, ex = _get_english_engine(spark, sf_dir)
    q = Match("text", "the joined tables", analyzer="english")
    return C.topk_rounded(ex, q, k=10)


def q_english_match_default(spark, sf_dir):
    """Same query WITHOUT an explicit analyzer arg: Match.analyzer defaults
    to None and must fall back to the INDEX analyzer (english) — the
    reference defaults the search analyzer to the field's index analyzer
    (sv/index/mapper/TextFieldMapper.java:326-389). Guards the silent
    wrong-results trap of querying an english index with unstemmed terms."""
    _, ex = _get_english_engine(spark, sf_dir)
    q = Match("text", "the joined tables")
    return C.topk_rounded(ex, q, k=10)


def q_english_docs(spark, sf_dir):
    """Doc lengths under the english analyzer (stopwords removed from dl)."""
    ix, _ = _get_english_engine(spark, sf_dir)
    return ix.docs.select("docid", "url", "dl", "dl_q").orderBy("docid")


_PROBES = [
    ("standard", "The QUICK brown-foxes 2.5 can't stop"),
    ("english", "The QUICK brown-foxes 2.5 can't stop"),
    ("whitespace", "The QUICK brown"),
    ("keyword", "The QUICK brown"),
]

# adversarial probes whose oracle rows are HAND-WRITTEN from the UAX#29 /
# Lucene StandardTokenizer rules (NOT computed by analyze()) — this gate
# is independent of the engine's analyzer implementation, closing the
# analyze_api oracle's circularity on exactly the inputs where a regex
# approximation could silently drift: apostrophes (MidNumLet), domain
# dots, MidNum-glued numerics, ExtendNumLet underscores, diacritics,
# per-char Han/hiragana vs run-forming Katakana, and the english chain
_GOLDEN_PROBES = [
    (0, "standard", "it's O'Neill's café №5"),
    (1, "standard", "visit example.com or 3.14 now"),
    (2, "standard", "The QUICK brown-foxes, jumped… 42 times!"),
    (3, "standard", "foo_bar a.5 1,000.5"),
    (4, "standard", "日本語 テスト 中文"),
    (5, "standard", "カタカナrun über"),
    (6, "english", "The quick foxes jumped"),
]

#: (probe_id, term, pos) — written by hand against the word-break spec
_GOLDEN_ROWS = [
    (0, "it's", 0), (0, "o'neill's", 1), (0, "café", 2), (0, "5", 3),
    (1, "visit", 0), (1, "example.com", 1), (1, "or", 2), (1, "3.14", 3),
    (1, "now", 4),
    (2, "the", 0), (2, "quick", 1), (2, "brown", 2), (2, "foxes", 3),
    (2, "jumped", 4), (2, "42", 5), (2, "times", 6),
    (3, "foo_bar", 0), (3, "a", 1), (3, "5", 2), (3, "1,000.5", 3),
    (4, "日", 0), (4, "本", 1), (4, "語", 2), (4, "テスト", 3),
    (4, "中", 4), (4, "文", 5),
    (5, "カタカナ", 0), (5, "run", 1), (5, "über", 2),
    (6, "quick", 1), (6, "fox", 2), (6, "jump", 3),
]


def q_analyze_goldens(spark, sf_dir):
    """Adversarial analysis probes through the REAL executor UDF path,
    gated against hand-written UAX#29 goldens (see _GOLDEN_ROWS)."""
    from functools import reduce

    from sparksearch.build import tokenize_udf
    outs = []
    for pid, an, text in _GOLDEN_PROBES:
        df = spark.createDataFrame([(text,)], "text string")
        tok = df.withColumn("_t", tokenize_udf(an)(F.col("text")))
        outs.append(tok.select(
            F.lit(pid).alias("probe"),
            F.explode(F.arrays_zip("_t.terms", "_t.poss")).alias("tp"))
            .select("probe", F.col("tp.terms").alias("term"),
                    F.col("tp.poss").cast("int").alias("pos")))
    return (reduce(lambda a, b: a.unionAll(b), outs)
            .orderBy("probe", "pos", "term"))


def sql_analyze_goldens() -> str:
    vals = ", ".join(f"({pid}, '{t.replace(chr(39), chr(39) * 2)}', {p})"
                     for pid, t, p in _GOLDEN_ROWS)
    return f"""
SELECT probe, term, CAST(pos AS INT) AS pos
FROM (VALUES {vals}) AS v(probe, term, pos)
ORDER BY probe, pos, term
""".strip()


def q_analyze_api(spark, sf_dir):
    """_analyze API through the REAL distributed path: the Arrow-batched
    tokenize UDF on executors, exploded to (analyzer, term, pos) rows. The
    oracle embeds the driver-side analysis — so this checks the UDF
    serialization path reproduces the reference token streams."""
    from sparksearch.build import tokenize_udf
    outs = []
    for an, text in _PROBES:
        df = spark.createDataFrame([(text,)], "text string")
        tok = df.withColumn("_t", tokenize_udf(an)(F.col("text")))
        outs.append(tok.select(
            F.lit(an).alias("analyzer"),
            F.explode(F.arrays_zip("_t.terms", "_t.poss")).alias("tp"))
            .select("analyzer", F.col("tp.terms").alias("term"),
                    F.col("tp.poss").cast("int").alias("pos")))
    from functools import reduce
    return (reduce(lambda a, b: a.unionAll(b), outs)
            .orderBy("analyzer", "pos", "term"))


# ---------------------------------------------------------------------------
# oracle SQL twins
# ---------------------------------------------------------------------------

def _stem_map_cte(sf_dir: str) -> str:
    vocab = _corpus_vocab(sf_dir)
    pairs = ", ".join(
        f"('{t}', '{porter_stem(t)}')" for t in vocab
        if t not in ENGLISH_STOP_WORDS)
    return (f"stemmap(term, stem) AS ( SELECT * FROM (VALUES {pairs}) )")


def _english_base(sf_dir: str) -> str:
    stop_in = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    return f"""
{C._PAGES},
rawtok AS (
  SELECT docid, unnest(string_split(text, ' ')) AS term FROM pages ),
{_stem_map_cte(sf_dir)},
tok AS (
  SELECT r.docid, s.stem AS term
  FROM rawtok r JOIN stemmap s USING (term)
  WHERE r.term <> '' AND r.term NOT IN ({stop_in}) ),
dl AS ( SELECT docid, count(*) AS dl FROM tok GROUP BY docid ),
dlq AS ( SELECT docid, dl, {quantized_dl_sql('dl')} AS dl_q FROM dl ),
g AS ( SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       FROM dl )
""".strip()


def sql_english_match(sf_dir: str) -> str:
    terms = [t for t, _ in analyze("the joined tables", "english")]
    in_list = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    idf, tfn = C._idf_sql, C._tfn_sql
    return f"""
WITH {_english_base(sf_dir)},
tf AS ( SELECT docid, term, count(*) AS tf FROM tok
        WHERE term IN ({in_list}) GROUP BY docid, term ),
dft AS ( SELECT term, count(*) AS df FROM tf GROUP BY term ),
sc AS ( SELECT tf.docid,
               sum({idf('dft.df', 'g.n')} *
                   {tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')}) AS score
        FROM tf JOIN dft USING (term) JOIN dlq USING (docid) CROSS JOIN g
        GROUP BY tf.docid )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()


def sql_english_docs(sf_dir: str) -> str:
    return f"""
WITH {_english_base(sf_dir)}
SELECT p.docid, p.url, CAST(dlq.dl AS BIGINT) AS dl,
       CAST(dlq.dl_q AS BIGINT) AS dl_q
FROM pages p JOIN dlq USING (docid) ORDER BY p.docid
""".strip()


def sql_analyze_api() -> str:
    rows = []
    for an, text in _PROBES:
        for t, p in analyze(text, an):
            rows.append((an, t.replace("'", "''"), p))
    vals = ", ".join(f"('{a}', '{t}', {p})" for a, t, p in rows)
    return f"""
SELECT analyzer, term, CAST(pos AS INT) AS pos
FROM (VALUES {vals}) AS v(analyzer, term, pos)
ORDER BY analyzer, pos, term
""".strip()


def queries() -> dict:
    return {
        "english_match": q_english_match,
        "english_match_default": q_english_match_default,
        "english_docs": q_english_docs,
        "analyze_api": q_analyze_api,
        "analyze_goldens": q_analyze_goldens,
    }


def oracle_sql_for(sf_dir: str) -> dict:
    return {
        "english_match": sql_english_match(sf_dir),
        "english_match_default": sql_english_match(sf_dir),
        "english_docs": sql_english_docs(sf_dir),
        "analyze_api": sql_analyze_api(),
        "analyze_goldens": sql_analyze_goldens(),
    }
